"""ClickHouse NATIVE TCP wire-protocol endpoint — the reference's
port 9000 surface (`/root/reference/clickhouse-server/config.d/
config.xml:11` ``<tcp_port>9000</tcp_port>``; `docker-compose.yml:164`
publishes it; `README.md:156` connects clickhouse-client to it). This
was the last wire class the terminal did not serve: HTTP 8123
(`ch_http.py`), MySQL 9004 (`ch_mysql.py`) and Thrift/JDBC exist; the
native protocol is what clickhouse-client itself and the native
drivers (clickhouse-driver, ch-go) speak.

Implemented from the PUBLIC protocol description —
https://clickhouse.com/docs/en/native-protocol/basics (varint/string
primitives), .../client + .../server (packet inventories, field
orders, revision gates) and .../columns (column-data encodings) — the
same published-docs-only posture as the MySQL endpoint. It serves the
SAME engine as every other endpoint: verbatim CH SELECT text compiled
by `ch_select`, or the full DDL/INSERT terminal over a `ChDdlCatalog`.

Scope (the uncompressed native protocol):

- Hello handshake with revision negotiation. We advertise revision
  54453 — deliberately the highest threshold BELOW custom column
  serialization (54454) and the post-hello client addendum (54458),
  so the wire stays at the classic, fully-documented block framing
  while still carrying string-serialized settings (>= 54429), the
  full modern ClientInfo (otel >= 54442, distributed depth >= 54448,
  initial query start time >= 54449, parallel-replicas fields at
  54453) and the interserver-secret slot (>= 54441). Every
  conditional field gates on min(client revision, ours), the
  documented negotiation rule.
- Query packets: any statement the terminal accepts (SELECT / WITH /
  DDL / INSERT ... VALUES / OPTIMIZE / SHOW / EXPLAIN ...). SELECTs
  answer with one Data block + EndOfStream, bounded by
  ``max_result_rows`` exactly like the HTTP endpoint.
- INSERT with no inline data (``INSERT INTO t [(cols)] VALUES`` with
  nothing after VALUES, or ``FORMAT Native``) runs the documented
  insert dance: the server sends the table structure as a zero-row
  Data block (the sample block, user-insertable columns only —
  MATERIALIZED/ALIAS are never on the wire, the same contract as the
  HTTP upload paths), the client streams Data blocks, an EMPTY block
  terminates, the server inserts through the catalog's MergeTree
  ingest path and answers EndOfStream.
- Column encodings: Int8/16/32/64, UInt8/16/32/64, Float32/64, Bool,
  String, Date32, DateTime, DateTime64(p), Decimal(P,S),
  Nullable(T), Array(T) — covering every Spark type the engine's
  tables produce. Naive timestamps travel as UTC epoch ticks (the
  session default timezone); a nullable Spark array maps to plain
  ``Array`` with NULL as ``[]`` because ClickHouse itself has no
  Nullable(Array).
- Ping→Pong; Cancel between queries is read and ignored (nothing is
  running); TablesStatusRequest answers an empty status map.
- ``compression=1`` in Query (r14 — previously the one refusal
  between this endpoint and a stock client's DEFAULT settings): Data
  blocks in BOTH directions travel as ClickHouse compressed frames —
  CityHash128(v1.0.2)-checksummed LZ4 blocks (`ch_compress.py`).
  Packet type varints, table-name strings and every non-Data packet
  stay plain, exactly the real server's framing; a client block may
  span several frames, and bytes left over in a frame after its
  block refuse loudly (a real client flushes its compressed buffer
  before the next plain packet byte, so leftover means desync). ZSTD
  frames (r15): read in both directions and served when the query
  pins ``network_compression_method=zstd`` (pyarrow's bundled codec;
  when none is importable the refusal is retained, loud, naming the
  lz4 alternative). Exception packets
  carry code 62 (SYNTAX_ERROR) for ChSqlError and 1000 otherwise.

No native client library exists in this container, so the pytest
coverage (tests/test_ch_native.py) drives the endpoint with a minimal
hand-rolled client and pins the packet layouts with golden-byte
assertions — the strategy the repo already uses for the Confluent
Avro framing and the MySQL wire.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import re
import socket
import struct
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from postgre_to_clickhouse_spark.ch_select import ChContext, ChSqlError, ch_select

__all__ = ["ChNativeClient", "ChNativeEndpoint", "serve_ch_native",
           "SERVER_REVISION"]

# -- revision thresholds (public ProtocolDefines / native-protocol docs)
REV_TEMPORARY_TABLES = 50264       # Data packets carry a table name
REV_BLOCK_INFO = 51903             # blocks carry the BlockInfo pairs
REV_CLIENT_INFO = 54032            # Query carries ClientInfo
REV_SERVER_TIMEZONE = 54058
REV_QUOTA_KEY = 54060
REV_DISPLAY_NAME = 54372
REV_VERSION_PATCH = 54401
REV_SETTINGS_AS_STRINGS = 54429
REV_INTERSERVER_SECRET = 54441
REV_OPENTELEMETRY = 54442
REV_DISTRIBUTED_DEPTH = 54448
REV_INITIAL_QUERY_START_TIME = 54449
REV_PARALLEL_REPLICAS = 54453

SERVER_REVISION = REV_PARALLEL_REPLICAS  # see module docstring
_SERVER_NAME = "postgre-to-clickhouse-spark"
_VERSION = (24, 3, 0)  # mirrors the reference's CH 24.3 banner

# client→server packet types
C_HELLO, C_QUERY, C_DATA, C_CANCEL, C_PING, C_TABLES_STATUS = 0, 1, 2, 3, 4, 5
# server→client packet types
S_HELLO, S_DATA, S_EXCEPTION, S_PROGRESS, S_PONG, S_END_OF_STREAM = 0, 1, 2, 3, 4, 5
S_TABLES_STATUS = 9

_EPOCH_DATE = _dt.date(1970, 1, 1)


# -- primitives (native-protocol basics) -------------------------------
def write_varint(n: int) -> bytes:
    if n < 0:
        # unsigned LEB128 only — a negative would loop forever on
        # Python's arithmetic right shift
        raise ValueError(f"varint is unsigned, got {n}")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def write_str(s: str | bytes) -> bytes:
    b = s.encode() if isinstance(s, str) else s
    return write_varint(len(b)) + b


class _Reader:
    """Buffered reader over a socket (the stream has NO outer framing
    — packets are varint-typed and self-describing)."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.buf = b""
        self.at = 0

    def read(self, n: int) -> bytes:
        while len(self.buf) - self.at < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise EOFError("peer closed")
            self.buf = self.buf[self.at:] + chunk
            self.at = 0
        out = self.buf[self.at:self.at + n]
        self.at += n
        return out

    def varint(self) -> int:
        shift, out = 0, 0
        while True:
            b = self.read(1)[0]
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7
            if shift > 63:  # 10 continuation bytes = not a UInt64
                raise ChSqlError("malformed varint on the native wire")

    # a desynced or malicious peer can claim any string length; past
    # this bound the read would block allocating gigabytes instead of
    # failing loudly (no legitimate wire string approaches it)
    MAX_STR = 64 * 1024 * 1024

    def string(self) -> str:
        n = self.varint()
        if n > self.MAX_STR:
            raise ChSqlError(
                f"native wire: implausible string length {n} — stream "
                "desynced or not the native protocol"
            )
        return self.read(n).decode()

    def u8(self) -> int:
        return self.read(1)[0]

    def i32(self) -> int:
        return struct.unpack("<i", self.read(4))[0]

    def u64(self) -> int:
        return struct.unpack("<Q", self.read(8))[0]

    def eof_between_packets(self) -> bool:
        """True iff the peer closed cleanly at a packet boundary."""
        if self.at < len(self.buf):
            return False
        try:
            chunk = self.sock.recv(65536)
        except OSError:
            return True
        if not chunk:
            return True
        self.buf, self.at = chunk, 0
        return False


class _FrameReader(_Reader):
    """Decompressed view of ONE compressed section (one Data block's
    bytes): pulls CityHash128-checksummed LZ4/NONE frames from the
    underlying reader on demand — a block may span several frames.
    ``finish`` enforces that the block consumed the section exactly:
    a real client flushes its compressed buffer before the next PLAIN
    packet-type byte, so leftover decompressed bytes mean the stream
    is desynced and cannot be trusted further."""

    def __init__(self, base: _Reader):
        self.base = base
        self.buf = b""
        self.at = 0

    def read(self, n: int) -> bytes:
        from postgre_to_clickhouse_spark.ch_compress import read_frame

        while len(self.buf) - self.at < n:
            try:
                frame = read_frame(self.base)
            except ValueError as exc:
                raise ChSqlError(str(exc)) from exc
            self.buf = self.buf[self.at:] + frame
            self.at = 0
        out = self.buf[self.at:self.at + n]
        self.at += n
        return out

    def finish(self) -> None:
        if self.at != len(self.buf):
            raise ChSqlError(
                f"compressed stream: {len(self.buf) - self.at} bytes left "
                "over after the Data block — frames must align to block "
                "boundaries before the next plain packet"
            )


# -- column codecs ------------------------------------------------------
class _Codec:
    """One CH wire type: ``ch`` is the type string, ``enc`` packs a
    list of Python values, ``dec`` unpacks ``n`` of them."""

    def __init__(self, ch: str, enc, dec):
        self.ch = ch
        self.enc = enc
        self.dec = dec


def _fixed(ch: str, fmt: str, to_wire=None, from_wire=None) -> _Codec:
    size = struct.calcsize(fmt)

    def enc(vals):
        conv = to_wire or (lambda v: v)
        return b"".join(
            struct.pack(fmt, conv(v) if v is not None else 0) for v in vals
        )

    def dec(r: _Reader, n: int):
        raw = r.read(size * n)
        out = [struct.unpack_from(fmt, raw, i * size)[0] for i in range(n)]
        return [from_wire(v) for v in out] if from_wire else out

    return _Codec(ch, enc, dec)


def _string_codec(ch: str = "String") -> _Codec:
    def enc(vals):
        return b"".join(write_str("" if v is None else str(v)) for v in vals)

    def dec(r: _Reader, n: int):
        return [r.string() for _ in range(n)]

    return _Codec(ch, enc, dec)


def _bool_codec() -> _Codec:
    def enc(vals):
        return bytes(1 if v else 0 for v in vals)

    def dec(r: _Reader, n: int):
        return [bool(b) for b in r.read(n)]

    return _Codec("Bool", enc, dec)


def _date32_codec() -> _Codec:
    return _fixed(
        "Date32", "<i",
        to_wire=lambda d: (d - _EPOCH_DATE).days,
        from_wire=lambda n: _EPOCH_DATE + _dt.timedelta(days=n),
    )


def _date_codec() -> _Codec:  # legacy u16 Date, decode side only
    return _fixed(
        "Date", "<H",
        to_wire=lambda d: (d - _EPOCH_DATE).days,
        from_wire=lambda n: _EPOCH_DATE + _dt.timedelta(days=n),
    )


_EPOCH_DT = _dt.datetime(1970, 1, 1)


def _ts_to_epoch_us(v: _dt.datetime) -> int:
    """EXACT integer epoch microseconds. Naive datetimes are taken as
    UTC on the wire (the engine runs sessions in the default UTC
    timezone; ch_http renders the same naive values as text). Integer
    arithmetic throughout — float ``timestamp()`` drifts by 1 µs at
    far dates (caught by the hypothesis round-trip test)."""
    if v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    d = v - _EPOCH_DT
    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds


def _datetime_codec() -> _Codec:
    return _fixed(
        "DateTime", "<I",
        to_wire=lambda v: _ts_to_epoch_us(v) // 1_000_000,
        from_wire=lambda n: _EPOCH_DT + _dt.timedelta(seconds=n),
    )


def _datetime64_codec(precision: int = 6) -> _Codec:
    def to_wire(v):
        us = _ts_to_epoch_us(v)
        if precision >= 6:
            return us * 10 ** (precision - 6)
        return us // 10 ** (6 - precision)  # CH truncates sub-tick

    def from_wire(n):
        if precision >= 6:
            us = n // 10 ** (precision - 6)  # python datetime is µs-grained
        else:
            us = n * 10 ** (6 - precision)
        return _EPOCH_DT + _dt.timedelta(microseconds=us)

    return _fixed(f"DateTime64({precision})", "<q",
                  to_wire=to_wire, from_wire=from_wire)


def _decimal_codec(precision: int, scale: int) -> _Codec:
    size = 4 if precision <= 9 else 8 if precision <= 18 else 16
    q = _decimal.Decimal(1).scaleb(-scale)
    # the DEFAULT decimal context (prec=28) silently rounds 38-digit
    # values on scaleb and raises InvalidOperation on quantize — a
    # Decimal128 carries up to 38 significant digits, so every
    # arithmetic step runs under an explicit wide context
    _ctx = _decimal.Context(prec=precision + scale + 4)

    def enc(vals):
        out = bytearray()
        for v in vals:
            n = 0 if v is None else int(
                _decimal.Decimal(v).quantize(q, context=_ctx)
                .scaleb(scale, context=_ctx))
            out += n.to_bytes(size, "little", signed=True)
        return bytes(out)

    def dec(r: _Reader, n: int):
        raw = r.read(size * n)
        return [
            _decimal.Decimal(
                int.from_bytes(raw[i * size:(i + 1) * size], "little",
                               signed=True)
            ).scaleb(-scale, context=_ctx)
            for i in range(n)
        ]

    return _Codec(f"Decimal({precision}, {scale})", enc, dec)


def _nullable(inner: _Codec) -> _Codec:
    def enc(vals):
        mask = bytes(1 if v is None else 0 for v in vals)
        return mask + inner.enc(vals)

    def dec(r: _Reader, n: int):
        mask = r.read(n)
        vals = inner.dec(r, n)
        return [None if mask[i] else vals[i] for i in range(n)]

    return _Codec(f"Nullable({inner.ch})", enc, dec)


def _array(inner: _Codec) -> _Codec:
    def enc(vals):
        offsets, flat, total = bytearray(), [], 0
        for v in vals:
            v = v if v is not None else []  # no Nullable(Array) in CH
            total += len(v)
            offsets += struct.pack("<Q", total)
            flat.extend(v)
        return bytes(offsets) + inner.enc(flat)

    def dec(r: _Reader, n: int):
        ends = [r.u64() for _ in range(n)]
        flat = inner.dec(r, ends[-1] if ends else 0)
        out, start = [], 0
        for e in ends:
            out.append(flat[start:e])
            start = e
        return out

    return _Codec(f"Array({inner.ch})", enc, dec)


_SPARK_BASE = {
    T.ByteType: lambda dt: _fixed("Int8", "<b"),
    T.ShortType: lambda dt: _fixed("Int16", "<h"),
    T.IntegerType: lambda dt: _fixed("Int32", "<i"),
    T.LongType: lambda dt: _fixed("Int64", "<q"),
    T.FloatType: lambda dt: _fixed("Float32", "<f"),
    T.DoubleType: lambda dt: _fixed("Float64", "<d"),
    T.BooleanType: lambda dt: _bool_codec(),
    T.StringType: lambda dt: _string_codec(),
    T.DateType: lambda dt: _date32_codec(),
    T.TimestampType: lambda dt: _datetime64_codec(6),
    T.TimestampNTZType: lambda dt: _datetime64_codec(6),
    T.DecimalType: lambda dt: _decimal_codec(dt.precision, dt.scale),
}


def codec_for(dt: T.DataType, nullable: bool) -> _Codec:
    """Spark type → native-wire codec (the SELECT answer mapping and
    the sample block the INSERT dance advertises)."""
    if isinstance(dt, T.ArrayType):
        return _array(codec_for(dt.elementType, dt.containsNull))
    maker = _SPARK_BASE.get(type(dt))
    if maker is None:
        raise ChSqlError(
            f"native wire cannot serialize Spark type {dt.simpleString()!r}"
            " — cast to a scalar/array column or use the HTTP endpoint's"
            " text formats"
        )
    inner = maker(dt)
    return _nullable(inner) if nullable else inner


_CH_BASE = {
    "Int8": lambda: _fixed("Int8", "<b"),
    "Int16": lambda: _fixed("Int16", "<h"),
    "Int32": lambda: _fixed("Int32", "<i"),
    "Int64": lambda: _fixed("Int64", "<q"),
    "UInt8": lambda: _fixed("UInt8", "<B"),
    "UInt16": lambda: _fixed("UInt16", "<H"),
    "UInt32": lambda: _fixed("UInt32", "<I"),
    "UInt64": lambda: _fixed("UInt64", "<Q"),
    "Float32": lambda: _fixed("Float32", "<f"),
    "Float64": lambda: _fixed("Float64", "<d"),
    "String": _string_codec,
    "Bool": _bool_codec,
    "Date": _date_codec,
    "Date32": _date32_codec,
    "DateTime": _datetime_codec,
}


def codec_for_ch_type(s: str) -> _Codec:
    """CH type string → codec, for DECODING client insert blocks (a
    conforming client echoes the sample block's types; common aliases
    are accepted too). Refuses loudly outside the declared set."""
    s = s.strip()
    m = re.fullmatch(r"Nullable\((.*)\)", s)
    if m:
        return _nullable(codec_for_ch_type(m.group(1)))
    m = re.fullmatch(r"Array\((.*)\)", s)
    if m:
        return _array(codec_for_ch_type(m.group(1)))
    m = re.fullmatch(r"DateTime64\(\s*(\d+)\s*(?:,\s*'[^']*'\s*)?\)", s)
    if m:
        return _datetime64_codec(int(m.group(1)))
    m = re.fullmatch(r"DateTime\(\s*'[^']*'\s*\)", s)
    if m:
        return _datetime_codec()
    m = re.fullmatch(r"Decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", s)
    if m:
        return _decimal_codec(int(m.group(1)), int(m.group(2)))
    m = re.fullmatch(r"Decimal(32|64|128)\(\s*(\d+)\s*\)", s)
    if m:
        prec = {"32": 9, "64": 18, "128": 38}[m.group(1)]
        return _decimal_codec(prec, int(m.group(2)))
    maker = _CH_BASE.get(s)
    if maker is None:
        raise ChSqlError(f"native wire: unsupported column type {s!r}")
    return maker()


# -- block read/write ---------------------------------------------------
def write_block(cols: list[tuple[str, _Codec, list]], n_rows: int,
                rev: int) -> bytes:
    """Serialize one uncompressed block (native-protocol/columns):
    BlockInfo pairs, column/row counts, then per-column name + type +
    raw data."""
    w = bytearray()
    if rev >= REV_BLOCK_INFO:
        w += write_varint(1) + b"\x00"              # is_overflows = 0
        w += write_varint(2) + struct.pack("<i", -1)  # bucket_num = -1
        w += write_varint(0)                          # end of pairs
    w += write_varint(len(cols)) + write_varint(n_rows)
    for name, codec, vals in cols:
        w += write_str(name) + write_str(codec.ch)
        w += codec.enc(vals)
    return bytes(w)


def read_block(r: _Reader, rev: int) -> tuple[list[str], list[str], list[list]]:
    """Parse one uncompressed block → (names, type strings, columns)."""
    if rev >= REV_BLOCK_INFO:
        while True:
            field = r.varint()
            if field == 0:
                break
            if field == 1:
                r.u8()
            elif field == 2:
                r.i32()
            else:
                raise ChSqlError(f"unknown BlockInfo field {field}")
    n_cols, n_rows = r.varint(), r.varint()
    names, types, data = [], [], []
    for _ in range(n_cols):
        names.append(r.string())
        types.append(r.string())
        data.append(codec_for_ch_type(types[-1]).dec(r, n_rows))
    return names, types, data


# -- ClientInfo (Query packet, revision-gated fields) -------------------
def _read_client_info(r: _Reader, rev: int) -> dict:
    info: dict = {"query_kind": r.u8()}
    if info["query_kind"] == 0:
        return info
    info["initial_user"] = r.string()
    info["initial_query_id"] = r.string()
    info["initial_address"] = r.string()
    if rev >= REV_INITIAL_QUERY_START_TIME:
        r.u64()
    iface = r.u8()
    info["interface"] = iface
    if iface != 1:
        # the HTTP-interface ClientInfo carries a different field set
        # (http method/user agent); guessing its layout would desync
        # the stream — refuse loudly, the header handler closes
        raise ChSqlError(
            f"native wire: ClientInfo interface {iface} is outside the "
            "subset (TCP clients only)"
        )
    info["os_user"] = r.string()
    info["client_hostname"] = r.string()
    info["client_name"] = r.string()
    r.varint(), r.varint(), r.varint()  # client version triple
    if rev >= REV_QUOTA_KEY:
        info["quota_key"] = r.string()
    if rev >= REV_DISTRIBUTED_DEPTH:
        r.varint()
    if rev >= REV_VERSION_PATCH and iface == 1:
        r.varint()
    if rev >= REV_OPENTELEMETRY:
        if r.u8():
            r.read(16), r.read(8)  # trace id, span id
            r.string()             # tracestate
            r.u8()                 # trace flags
    if rev >= REV_PARALLEL_REPLICAS:
        r.varint(), r.varint(), r.varint()
    return info


def _read_settings(r: _Reader, rev: int) -> dict[str, str]:
    out: dict[str, str] = {}
    while True:
        name = r.string()
        if not name:
            return out
        if rev < REV_SETTINGS_AS_STRINGS:
            raise ChSqlError(
                "native wire: typed (pre-54429) setting serialization is "
                "outside the subset — send no settings or negotiate a "
                "modern revision"
            )
        r.varint()  # flags (importance bits)
        out[name] = r.string()


# -- the endpoint -------------------------------------------------------
_INSERT_DANCE = re.compile(
    r"(?is)^\s*INSERT\s+INTO\s+(?:(\w+)\.)?(\w+)\s*"
    r"(\(\s*\w+(?:\s*,\s*\w+)*\s*\))?\s*"
    r"(?:VALUES|FORMAT\s+(?:Native|Values))?\s*;?\s*$"
)


class _Conn:
    def __init__(self, sock: socket.socket, run, execute, catalog,
                 spark: SparkSession, max_rows: int):
        self.sock = sock
        self.r = _Reader(sock)
        self.run = run
        self.execute = execute
        self.catalog = catalog
        self.spark = spark
        self.max_rows = max_rows
        self.rev = SERVER_REVISION
        self.compress = False  # per-query, from the Query packet flag
        # server->client frame codec, from the query's
        # network_compression_method setting (r15): lz4 default, zstd
        # when pinned and a codec is bundled, none framed as 0x02
        self.compress_method: int | None = None

    def _send(self, payload: bytes) -> None:
        self.sock.sendall(payload)

    def _read_data_block(self):
        """One block from the wire, honoring the query's compression
        flag (Data packets are the ONLY compressed payloads; packet
        types and table-name strings stay plain)."""
        if self.compress:
            fr = _FrameReader(self.r)
            out = read_block(fr, self.rev)
            fr.finish()
            return out
        return read_block(self.r, self.rev)

    @staticmethod
    def _pick_method(name: str | None) -> int | None:
        """The server->client frame codec for this query, from the CH
        ``network_compression_method`` setting (r15, VERDICT r14 #6).
        LZ4HC compresses TO the plain LZ4 block format (decode-
        compatible), so it answers with the lz4 encoder; a zstd pin
        with no bundled codec refuses loudly at query time rather
        than desyncing mid-stream."""
        from postgre_to_clickhouse_spark import ch_compress as cc

        if name is None:
            return None  # server default (lz4)
        low = name.strip().lower()
        if low in ("lz4", "lz4hc"):
            return cc.METHOD_LZ4
        if low == "none":
            return cc.METHOD_NONE
        if low == "zstd":
            if cc._ZSTD is None:
                raise ChSqlError(cc._ZSTD_REFUSAL)
            return cc.METHOD_ZSTD
        raise ChSqlError(
            f"network_compression_method={name!r} is outside the "
            "subset — lz4 (default), lz4hc, zstd, or none"
        )

    def _exception(self, exc: Exception) -> bytes:
        code = 62 if isinstance(exc, ChSqlError) else 1000
        return (write_varint(S_EXCEPTION) + struct.pack("<i", code)
                + write_str("DB::Exception")
                + write_str(f"{type(exc).__name__}: {exc}")
                + write_str("") + b"\x00")

    def _send_block(self, cols, n_rows) -> None:
        from postgre_to_clickhouse_spark.ch_compress import compress_frame

        pkt = write_varint(S_DATA)
        if self.rev >= REV_TEMPORARY_TABLES:
            pkt += write_str("")
        blk = write_block(cols, n_rows, self.rev)
        if self.compress:
            method = self.compress_method
            if method is None:
                from postgre_to_clickhouse_spark.ch_compress import (
                    METHOD_LZ4,
                )

                method = METHOD_LZ4
            pkt += compress_frame(blk, method)
        else:
            pkt += blk
        self._send(pkt)

    def _hello(self) -> bool:
        if self.r.varint() != C_HELLO:
            return False
        self.r.string()                    # client name
        self.r.varint(), self.r.varint()   # client version
        client_rev = self.r.varint()
        self.r.string()                    # database
        self.r.string(), self.r.string()   # user, password (no auth store)
        self.rev = min(client_rev, SERVER_REVISION)
        w = write_varint(S_HELLO) + write_str(_SERVER_NAME)
        w += write_varint(_VERSION[0]) + write_varint(_VERSION[1])
        w += write_varint(SERVER_REVISION)
        if self.rev >= REV_SERVER_TIMEZONE:
            w += write_str("UTC")
        if self.rev >= REV_DISPLAY_NAME:
            w += write_str(_SERVER_NAME)
        if self.rev >= REV_VERSION_PATCH:
            w += write_varint(_VERSION[2])
        self._send(w)
        return True

    def _answer_frame(self, df: DataFrame) -> None:
        from postgre_to_clickhouse_spark.ch_select import collect_bounded

        rows = collect_bounded(df, self.max_rows)
        fields = df.schema.fields
        cols = [
            (f.name, codec_for(f.dataType, f.nullable),
             [r[i] for r in rows])
            for i, f in enumerate(fields)
        ]
        self._send_block(cols, len(rows))
        self._send(write_varint(S_END_OF_STREAM))

    def _insert_dance(self, name: str, col_list: list[str] | None,
                      mid_dance: list[bool]) -> None:
        """The documented native INSERT flow: sample block out, data
        blocks in, empty block terminates. ``mid_dance[0]`` flips once
        the sample block is on the wire — an error after that point
        means the client may still be streaming, so the caller closes
        the connection (CH's own behavior) instead of trying to resync."""
        spec = self.catalog.tables.get(name)
        if spec is None:
            raise ChSqlError(f"unknown table {name!r}")
        insertable = [
            f for f in spec.schema.fields
            if f.name not in spec.materialized and f.name not in spec.aliases
        ]
        if col_list is not None:
            by_name = {f.name: f for f in spec.schema.fields}
            unknown = sorted(set(col_list) - set(by_name))
            if unknown:
                raise ChSqlError(f"INSERT column(s) not declared: {unknown}")
            banned = [c for c in col_list
                      if c in spec.materialized or c in spec.aliases]
            if banned:
                raise ChSqlError(
                    f"MATERIALIZED/ALIAS column(s) are not insertable: "
                    f"{banned}"
                )
            insertable = [by_name[c] for c in col_list]
        sample = [(f.name, codec_for(f.dataType, f.nullable), [])
                  for f in insertable]
        mid_dance[0] = True
        self._send_block(sample, 0)
        rows: list[tuple] = []
        while True:
            ptype = self.r.varint()
            if ptype == C_CANCEL:
                self._send(write_varint(S_END_OF_STREAM))
                return
            if ptype != C_DATA:
                raise ChSqlError(
                    f"expected Data packets during INSERT, got {ptype}"
                )
            if self.rev >= REV_TEMPORARY_TABLES:
                self.r.string()
            names, _types, data = self._read_data_block()
            if not names:
                break
            if names != [f.name for f in insertable]:
                raise ChSqlError(
                    f"INSERT block columns {names} do not match the "
                    f"sample block {[f.name for f in insertable]}"
                )
            rows.extend(zip(*data))
            if len(rows) > self.max_rows:
                # the same bound every other ingest path enforces —
                # the dance buffers before the part ingest
                raise ChSqlError(
                    f"INSERT exceeds max_result_rows={self.max_rows} "
                    "rows per statement — split into smaller inserts"
                )
        schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in insertable]
        )
        df = self.spark.createDataFrame(rows, schema)
        seq = self.catalog._next_seq(name)
        self.catalog.insert(self.spark, name, df, batch_id=f"native{seq}")
        self._send(write_varint(S_END_OF_STREAM))

    def _read_external_tables(self) -> None:
        """After Query, every real client sends the EXTERNAL-TABLES
        section: zero or more named Data blocks, terminated by an
        empty one (clickhouse-client and clickhouse-driver send the
        terminator unconditionally). Consume it; a non-empty external
        table refuses loudly (outside the subset)."""
        while True:
            ptype = self.r.varint()
            if ptype != C_DATA:
                raise ChSqlError(
                    f"expected the external-tables terminator Data "
                    f"block after Query, got packet {ptype}"
                )
            if self.rev >= REV_TEMPORARY_TABLES:
                self.r.string()
            names, _types, _data = self._read_data_block()
            if not names:
                return
            raise ChSqlError(
                "external (temporary) tables are outside the subset — "
                "stage the data with INSERT instead"
            )

    def _query(self) -> bool:
        """Serve one Query packet. Returns True to keep the
        connection, False when the stream can no longer be trusted
        (header parse failure or a mid-INSERT error — the client may
        still be streaming, so the server closes like CH does)."""
        try:
            self.r.string()  # query id
            if self.rev >= REV_CLIENT_INFO:
                _read_client_info(self.r, self.rev)
            settings = _read_settings(self.r, self.rev)
            if self.rev >= REV_INTERSERVER_SECRET:
                self.r.string()
            self.r.varint()  # stage (Complete)
            compression = self.r.varint()
            sql = self.r.string().strip().rstrip(";")
            if compression not in (0, 1):
                raise ChSqlError(
                    f"native wire: unknown compression flag {compression}"
                )
            # set BEFORE the external-tables section — a compressing
            # client frames the terminator block too (r14)
            self.compress = bool(compression)
            # resolve/validate the codec only when frames will
            # actually be compressed (ADVICE r15): a client pinning
            # zstd WITHOUT wire compression never touches the codec,
            # so a codec-less build still serves the query — real CH
            # behavior.
            self.compress_method = (
                self._pick_method(
                    settings.get("network_compression_method"))
                if self.compress else None)
            self._read_external_tables()
        except EOFError:
            raise
        except Exception as exc:  # noqa: BLE001 — header errors close
            self._send(self._exception(exc))
            return False
        try:
            head = sql[:6].upper()
            if head.startswith(("SELECT", "WITH")):
                self._answer_frame(self.run(sql))
                return True
            if self.execute is None:
                raise ChSqlError(
                    "this endpoint serves SELECT statements only (fixed "
                    "table context); serve a ChDdlCatalog to accept "
                    "DDL/INSERT over the wire"
                )
            m = _INSERT_DANCE.fullmatch(sql)
            if m:
                cols = None
                if m.group(3):
                    cols = [c.strip() for c in
                            m.group(3).strip("()").split(",")]
                mid_dance = [False]
                try:
                    self._insert_dance(m.group(2), cols, mid_dance)
                except Exception as exc:  # noqa: BLE001
                    # the client may still be streaming blocks — the
                    # stream position is untrustworthy, close like CH
                    self._send(self._exception(exc))
                    return not mid_dance[0]
                return True
            res = self.execute(sql)
            if isinstance(res, DataFrame):
                self._answer_frame(res)
            else:
                self._send(write_varint(S_END_OF_STREAM))
        except Exception as exc:  # noqa: BLE001 — wire errors are packets
            self._send(self._exception(exc))
        return True

    def serve(self) -> None:
        if not self._hello():
            return
        while True:
            if self.r.eof_between_packets():
                return
            ptype = self.r.varint()
            if ptype == C_PING:
                self._send(write_varint(S_PONG))
            elif ptype == C_QUERY:
                if not self._query():
                    return
            elif ptype == C_CANCEL:
                continue  # nothing running between queries
            elif ptype == C_TABLES_STATUS:
                # TablesStatusRequest: varint count, then a (database,
                # table) string PAIR per entry — reading one string per
                # entry would desync the stream on a non-empty probe
                # (e.g. a Distributed-style replica-delay check).
                # Answer an empty status map.
                for _ in range(self.r.varint()):
                    self.r.string()  # database
                    self.r.string()  # table
                self._send(write_varint(S_TABLES_STATUS) + write_varint(0))
            else:
                self._send(self._exception(
                    ChSqlError(f"unsupported client packet {ptype}")))
                return


class ChNativeEndpoint:
    def __init__(self, server: socket.socket, host: str, port: int):
        self._server = server
        self._stop = threading.Event()
        self.host = host
        self.port = port

    def stop(self) -> None:
        self._stop.set()
        try:
            self._server.close()
        except OSError:
            pass


def serve_ch_native(
    spark: SparkSession,
    source,
    host: str = "127.0.0.1",
    port: int = 0,
    max_result_rows: int = 100_000,
) -> ChNativeEndpoint:
    """Start the native-wire endpoint (the reference's 9000 analog).
    ``source`` is a :class:`ch_select.ChContext` (read-only SELECTs)
    or a :class:`ch_ddl.ChDdlCatalog` (the full terminal incl. the
    INSERT block dance). ``port=0`` picks a free port; stop with
    :meth:`ChNativeEndpoint.stop`."""
    catalog = None
    if isinstance(source, ChContext):
        def _run(sql: str) -> DataFrame:
            return ch_select(spark, sql, source)

        _execute = None
    elif hasattr(source, "query"):
        catalog = source

        def _run(sql: str) -> DataFrame:
            return source.query(spark, sql)

        def _execute(sql: str):
            return source.execute(sql, spark=spark)
    else:
        raise TypeError(
            f"source must be a ChContext or ChDdlCatalog, got {type(source)}"
        )
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind((host, port))
    srv.listen(16)
    ep = ChNativeEndpoint(srv, host, srv.getsockname()[1])

    def _serve_conn(conn: socket.socket) -> None:
        try:
            _Conn(conn, _run, _execute, catalog, spark,
                  max_result_rows).serve()
        except (EOFError, OSError, ChSqlError):
            # a client disconnect mid-stream, or a framing error outside
            # a query (header trust is gone): just close the connection
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def _accept_loop() -> None:
        while not ep._stop.is_set():
            try:
                conn, _addr = srv.accept()
            except OSError:
                return
            threading.Thread(
                target=_serve_conn, args=(conn,),
                name="ch-native-conn", daemon=True,
            ).start()

    threading.Thread(target=_accept_loop, name="ch-native",
                     daemon=True).start()
    probe = socket.create_connection((host, ep.port), 5)
    probe.close()
    return ep


class ChNativeClient:
    """Minimal programmatic client for the native endpoint — the
    in-repo analogue of clickhouse-client for this wire (the pytest
    suite deliberately keeps its OWN hand-rolled client so the two
    ends stay independently derived from the public docs).

    ``query`` runs any statement and returns ``(names, types, rows)``
    (empty lists for statements with no result set); an Exception
    packet raises :class:`ch_select.ChSqlError` with the server
    message. ``insert_rows`` runs the documented INSERT dance: send
    the bare INSERT, receive the sample block, stream one data block,
    terminate with the empty block."""

    def __init__(self, host: str, port: int,
                 revision: int = SERVER_REVISION):
        self.sock = socket.create_connection((host, port), 60)
        self.r = _Reader(self.sock)
        self.revision = revision
        self.rev = revision
        self._handshake()

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass

    def _handshake(self) -> None:
        w = write_varint(C_HELLO) + write_str("p2c-native-client")
        w += write_varint(_VERSION[0]) + write_varint(_VERSION[1])
        w += write_varint(self.revision)
        w += write_str("default") + write_str("default") + write_str("")
        self.sock.sendall(w)
        if self.r.varint() != S_HELLO:
            raise ChSqlError("native client: expected server Hello")
        self.r.string()
        self.r.varint(), self.r.varint()
        self.rev = min(self.revision, self.r.varint())
        if self.rev >= REV_SERVER_TIMEZONE:
            self.r.string()
        if self.rev >= REV_DISPLAY_NAME:
            self.r.string()
        if self.rev >= REV_VERSION_PATCH:
            self.r.varint()

    def _client_info(self) -> bytes:
        w = b"\x01"  # query_kind = initial query
        w += write_str("") + write_str("") + write_str("0.0.0.0:0")
        if self.rev >= REV_INITIAL_QUERY_START_TIME:
            w += struct.pack("<Q", 0)
        w += b"\x01"  # interface TCP
        w += write_str("") + write_str("") + write_str("p2c-native-client")
        w += (write_varint(_VERSION[0]) + write_varint(_VERSION[1])
              + write_varint(self.revision))
        if self.rev >= REV_QUOTA_KEY:
            w += write_str("")
        if self.rev >= REV_DISTRIBUTED_DEPTH:
            w += write_varint(0)
        if self.rev >= REV_VERSION_PATCH:
            w += write_varint(_VERSION[2])
        if self.rev >= REV_OPENTELEMETRY:
            w += b"\x00"
        if self.rev >= REV_PARALLEL_REPLICAS:
            w += write_varint(0) * 3
        return w

    def _send_query(self, sql: str) -> None:
        w = write_varint(C_QUERY) + write_str("")
        if self.rev >= REV_CLIENT_INFO:
            w += self._client_info()
        w += write_str("")  # no settings
        if self.rev >= REV_INTERSERVER_SECRET:
            w += write_str("")
        w += write_varint(2) + write_varint(0)  # Complete, no compression
        w += write_str(sql)
        # the external-tables terminator every real client sends
        # unconditionally after Query (an empty Data block)
        w += write_varint(C_DATA)
        if self.rev >= REV_TEMPORARY_TABLES:
            w += write_str("")
        w += write_block([], 0, self.rev)
        self.sock.sendall(w)

    def _recv(self):
        ptype = self.r.varint()
        if ptype == S_DATA:
            if self.rev >= REV_TEMPORARY_TABLES:
                self.r.string()
            return ("data", read_block(self.r, self.rev))
        if ptype == S_EXCEPTION:
            self.r.i32()
            self.r.string()
            msg = self.r.string()
            self.r.string(), self.r.u8()
            raise ChSqlError(f"server exception: {msg}")
        if ptype == S_END_OF_STREAM:
            return ("end", None)
        if ptype == S_PONG:
            return ("pong", None)
        raise ChSqlError(f"native client: unexpected server packet {ptype}")

    def query(self, sql: str):
        self._send_query(sql)
        names, types, rows = [], [], []
        while True:
            kind, payload = self._recv()
            if kind == "end":
                return names, types, rows
            nm, ty, cols = payload
            if nm:
                names, types = nm, ty
                rows.extend(zip(*cols))

    def _send_block(self, cols, n_rows: int) -> None:
        w = write_varint(C_DATA)
        if self.rev >= REV_TEMPORARY_TABLES:
            w += write_str("")
        w += write_block(cols, n_rows, self.rev)
        self.sock.sendall(w)

    def insert_rows(self, table: str, fields, rows) -> None:
        """``fields`` = list of (name, spark DataType, nullable);
        ``rows`` = list of tuples in that column order."""
        names = ", ".join(name for name, _dt, _n in fields)
        self._send_query(f"INSERT INTO {table} ({names}) VALUES")
        kind, payload = self._recv()  # the sample block
        if kind != "data":
            raise ChSqlError("native client: expected the sample block")
        sample_names = payload[0]
        if sample_names != [name for name, _dt, _n in fields]:
            raise ChSqlError(
                f"sample block {sample_names} does not match {names}")
        cols = [
            (name, codec_for(dt, nullable), [r[i] for r in rows])
            for i, (name, dt, nullable) in enumerate(fields)
        ]
        self._send_block(cols, len(rows))
        self._send_block([], 0)
        kind, _ = self._recv()
        if kind != "end":
            raise ChSqlError("native client: expected EndOfStream")

    def insert_df(self, table: str, df: DataFrame,
                  max_rows: int = 100_000) -> None:
        """INSERT a DataFrame through the block dance. The collect is
        bounded by ``max_rows`` (the shared collect_bounded guard) —
        this is a CLIENT-side convenience for fixture-sized frames,
        not a bulk-transfer path."""
        rows = df.limit(max_rows + 1).collect()
        if len(rows) > max_rows:
            # insert-appropriate guidance (review fix: the shared
            # SELECT-side guard told the user to "add a LIMIT")
            raise ChSqlError(
                f"insert_df exceeds max_rows={max_rows} rows — split "
                "the DataFrame into smaller inserts"
            )
        fields = [(f.name, f.dataType, f.nullable)
                  for f in df.schema.fields]
        self.insert_rows(table, fields, [tuple(r) for r in rows])

    def ping(self) -> bool:
        self.sock.sendall(write_varint(C_PING))
        return self._recv()[0] == "pong"


# -- the standalone Native FORMAT (HTTP bodies / files) ------------------
# Outside the TCP protocol, ClickHouse's `FORMAT Native` is the same
# block encoding WITHOUT packet framing or BlockInfo: a concatenation
# of (n_cols varint, n_rows varint, then per column name + type +
# data) until EOF. rev=0 in write_block/read_block produces exactly
# that layout, so the HTTP endpoint reuses these codecs verbatim.

class _BytesSock:
    """recv()-compatible view over a bytes payload so _Reader can
    parse standalone Native bodies."""

    def __init__(self, payload: bytes):
        self._mv = memoryview(payload)
        self._at = 0

    def recv(self, n: int) -> bytes:
        out = bytes(self._mv[self._at:self._at + n])
        self._at += len(out)
        return out


def iter_blocks_bytes(payload: bytes):
    """Yield (names, types, columns) per block from a standalone
    Native body until the payload is exhausted. Trailing garbage
    raises (a truncated block surfaces as EOFError from the reader)."""
    r = _Reader(_BytesSock(payload))
    while True:
        if r.eof_between_packets():
            return
        try:
            yield read_block(r, rev=0)
        except EOFError:
            raise ChSqlError(
                "truncated Native body — a block header or column ran "
                "past the end of the payload"
            ) from None


def serialize_native(fields, rows) -> bytes:
    """One standalone Native block from Spark schema fields + rows —
    the FORMAT Native response body."""
    cols = [
        (f.name, codec_for(f.dataType, f.nullable),
         [row[i] for row in rows])
        for i, f in enumerate(fields)
    ]
    return write_block(cols, len(rows), rev=0)


def spark_type_for_ch_type(s: str) -> tuple[T.DataType, bool]:
    """CH wire type string → (Spark type, nullable) for building a
    DataFrame from decoded Native blocks. UInt64 maps to LongType —
    values above 2^63-1 would overflow and raise at build time rather
    than wrap (documented narrowing; the engine's own tables never
    emit them)."""
    s = s.strip()
    m = re.fullmatch(r"Nullable\((.*)\)", s)
    if m:
        inner, _ = spark_type_for_ch_type(m.group(1))
        return inner, True
    m = re.fullmatch(r"Array\((.*)\)", s)
    if m:
        inner, inner_null = spark_type_for_ch_type(m.group(1))
        return T.ArrayType(inner, inner_null), True
    m = re.fullmatch(r"DateTime64\(\s*\d+\s*(?:,\s*'[^']*'\s*)?\)", s)
    if m:
        return T.TimestampType(), False
    m = re.fullmatch(r"DateTime\(\s*'[^']*'\s*\)", s)
    if m:  # the tz-argument spelling codec_for_ch_type also accepts
        return T.TimestampType(), False
    m = re.fullmatch(r"Decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", s)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2))), False
    m = re.fullmatch(r"Decimal(32|64|128)\(\s*(\d+)\s*\)", s)
    if m:
        prec = {"32": 9, "64": 18, "128": 38}[m.group(1)]
        return T.DecimalType(prec, int(m.group(2))), False
    base = {
        "Int8": T.ByteType(), "Int16": T.ShortType(),
        "Int32": T.IntegerType(), "Int64": T.LongType(),
        "UInt8": T.ShortType(), "UInt16": T.IntegerType(),
        "UInt32": T.LongType(), "UInt64": T.LongType(),
        "Float32": T.FloatType(), "Float64": T.DoubleType(),
        "String": T.StringType(), "Bool": T.BooleanType(),
        "Date": T.DateType(), "Date32": T.DateType(),
        "DateTime": T.TimestampType(),
    }.get(s)
    if base is None:
        raise ChSqlError(f"native format: unsupported column type {s!r}")
    return base, False
