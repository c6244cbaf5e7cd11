"""ClickHouse-HTTP-analogue wire endpoint (r11, VERDICT r10 #4 —
closing move on A22's wire surface).

The reference's terminal endpoint speaks ClickHouse SQL over the
ClickHouse server's own wire protocols — HTTP 8123 and native TCP
9000 (``/root/reference/clickhouse-server/config.d/config.xml:11-12,
30``, ``README.md:156``). r7's :func:`ddl.serve_sql_endpoint` covers
the generic JDBC/ODBC surface (Thrift/HiveServer2, Spark SQL dialect);
THIS module covers the dialect gap: a wire client's **verbatim
ClickHouse SELECT text** runs as-is.

Design: a driver-side HTTP server (the CH HTTP interface subset real
clients use — ``curl 'http://host:port/?query=...'``, POST body
queries, ``/ping``) that compiles each received statement with
:func:`ch_select.ch_select` against a fixed table context (or a
:class:`ch_ddl.ChDdlCatalog`'s stored tables) and streams the result
back in CH wire formats:

- ``TabSeparated`` (the CH default): ``\\t``-separated, ``\\N`` for
  NULL, strings escaped CH-style (backslash, tab, newline), datetimes
  as ``YYYY-MM-DD hh:mm:ss``;
- ``TabSeparatedWithNames``: ditto with a header row;
- ``JSONEachRow``: one JSON object per line;
- ``JSON`` (r12): the CH object envelope — ``meta`` (name + CH type
  text per column), ``data`` (row objects), ``rows`` — what HTTP
  dashboards and the CH JDBC driver's HTTP transport request;
- ``CSV`` / ``CSVWithNames`` (r12): strings and dates double-quoted
  with ``""`` escaping, ``\\N`` for NULL — the CH export default.

A trailing ``FORMAT <name>`` clause in the query selects the format
(the ch_select parser itself drops FORMAT — the server reads it before
compiling); anything else refuses loudly with the supported list.

When the endpoint is backed by a :class:`ch_ddl.ChDdlCatalog` (r11),
non-SELECT statements — CREATE / ALTER / INSERT / TRUNCATE / DROP /
OPTIMIZE — route to ``catalog.execute`` and answer an empty 200, so a
wire client can run its ENTIRE provisioning-and-query session
verbatim (the curl-against-8123 loop). A fixed-``ChContext`` endpoint
stays read-only and refuses DDL loudly.

The wire core lives here and serves all three protocols — HTTP,
MySQL (``ch_mysql.py``) and native (``ch_native.py``): one source
check (:func:`_catalog_of`), one per-connection :class:`WireHandle`
that owns the SELECT-or-statement routing and the read-only refusal,
one bind/accept/thread loop (:func:`serve_wire`; HTTP keeps
``ThreadingHTTPServer`` and opens its handle in ``setup()``) and one
endpoint class (:class:`ChWireEndpoint`). Each catalog connection
runs on its own ``spark.newSession()``; see :func:`_opener`. HTTP
answers HTTP/1.1 with keep-alive, so a client that reuses its
connection reuses that session too.

Why HTTP and not a Thrift tag: hive-jdbc carries Spark SQL — smuggling
CH text inside a Spark-SQL string would be a bespoke convention no
real client speaks, while HTTP + TabSeparated is exactly what
``clickhouse-client``-adjacent tooling (curl, the CH JDBC driver's
HTTP transport) already uses against the reference. For JDBC clients
the bridge is :func:`register_ch_global_view`: compile verbatim CH
text once, expose it as a ``global_temp`` view the r7 Thrift endpoint
serves — both tested in ``tests/test_ch_http.py``.

Scale/result-size posture: an interactive endpoint materializes the
rows it returns (the reference's CH does the same); the server bounds
that with ``max_result_rows`` (default 100k — CH's own
``max_result_rows`` setting analog) and answers 500 with an
overflow error beyond it, so a wire client cannot OOM the driver with
an unbounded SELECT. Compilation adds no runtime: the served plan is
the same Catalyst plan the in-process front end produces.

HTTP compression (r16, VERDICT r15 #4 — the last compression surface
a stock HTTP client can trip on, after r14's native-wire LZ4 and
r15's ZSTD): CH's own semantics —

- **Responses** compress only when the client BOTH sends
  ``Accept-Encoding`` and sets ``enable_http_compression=1`` (CH's
  setting; default off). Codecs: gzip / deflate (stdlib zlib) and
  zstd (the same bundled-pyarrow-codec pattern as the native wire;
  silently skipped in negotiation when no codec is importable).
  ``http_zlib_compression_level`` (CH's setting, default 3) applies
  to the zlib family.
- **Request bodies** decompress whenever ``Content-Encoding`` says so
  (CH decompresses requests unconditionally — no setting needed):
  gzip / deflate via stdlib. A zstd request body refuses loudly
  naming gzip — pyarrow's codec cannot decompress a frame of unknown
  content size, and a lossy guess is worse than a loud refusal.
"""

from __future__ import annotations

import datetime as _dt
import json
import re as _re
import socket
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame, SparkSession

from postgre_to_clickhouse_spark.ch_select import (
    ChContext,
    ChSqlError,
    ch_select,
    collect_bounded,
)

__all__ = ["ChWireEndpoint", "WireHandle", "serve_wire", "serve_ch_http",
           "register_ch_global_view"]

_FORMATS = ("TabSeparated", "TabSeparatedWithNames",
            "TabSeparatedWithNamesAndTypes", "JSONEachRow",
            "JSON", "JSONCompact", "JSONCompactEachRow", "CSV",
            "CSVWithNames", "Pretty", "Parquet", "Native")

# INSERT-with-data-body: query in the URL, rows in the POST body — the
# CH HTTP upload split (`curl '...?query=INSERT INTO t FORMAT
# JSONEachRow' --data-binary @rows.ndjson`). r12: CSV[WithNames] too;
# r13: TabSeparated[WithNames] completes the upload matrix.
_INSERT_DATA = _re.compile(
    r"INSERT\s+INTO\s+(\S+)\s*(?:\(([^)]*)\))?\s*"
    r"FORMAT\s+(JSONEachRow|CSVWithNames|CSV|"
    r"TabSeparatedWithNamesAndTypes|TabSeparatedWithNames|"
    r"TabSeparated|TSV|Native)\s*$",
    _re.IGNORECASE,
)


def _accept_encodings(header: str) -> dict[str, float]:
    """Parse an Accept-Encoding header into {codec: q} (q=0 means the
    client explicitly excludes the codec). Each entry may carry
    several ';'-separated parameters and the q name is
    case-insensitive per RFC 9110 (r16 review: a one-partition parse
    silently read 'gzip;q=0;x=y' as q=1 and served an excluded
    codec)."""
    out: dict[str, float] = {}
    for part in (header or "").split(","):
        part = part.strip()
        if not part:
            continue
        name, _, rest = part.partition(";")
        q = 1.0
        for param in rest.split(";"):
            param = param.strip()
            if param[:2].lower() == "q=":
                try:
                    q = float(param[2:].strip())
                except ValueError:
                    q = 1.0
                break
        out[name.strip().lower()] = q
    return out


# Decompressed-request-body cap (r16 review): without it a ~1 MB gzip
# bomb inflates to ~1 GB in driver memory BEFORE any row-count guard
# runs, defeating the endpoint's stated OOM posture. 64 MiB is far
# above any max_result_rows-legal text body.
_MAX_REQUEST_BODY = 64 * 1024 * 1024

# An HTTP keep-alive connection idle this long is closed: each open
# connection holds a server thread and its Spark session.
_KEEPALIVE_IDLE_S = 10


def _http_compress(body: bytes, encoding: str, level: int) -> bytes:
    import gzip
    import zlib

    if encoding == "gzip":
        return gzip.compress(body, compresslevel=level)
    if encoding == "deflate":
        return zlib.compress(body, level)
    if encoding == "zstd":
        from postgre_to_clickhouse_spark.ch_compress import (
            zstd_compress_block,
        )

        return zstd_compress_block(body)
    raise ChSqlError(f"unsupported response encoding {encoding!r}")


def _bounded_inflate(raw: bytes, wbits: int, what: str) -> bytes:
    """zlib-family decompression with a hard output cap — the
    decompressobj max_length loop, so a compression bomb refuses
    loudly at the cap instead of materializing in driver memory."""
    import zlib

    d = zlib.decompressobj(wbits)
    out = d.decompress(raw, _MAX_REQUEST_BODY + 1)
    if len(out) > _MAX_REQUEST_BODY or d.unconsumed_tail:
        raise ChSqlError(
            f"decompressed {what} request body exceeds "
            f"{_MAX_REQUEST_BODY} bytes — split the upload"
        )
    if not d.eof:
        raise ChSqlError(f"bad {what} request body: truncated stream")
    if d.unused_data:
        raise ChSqlError(
            f"bad {what} request body: trailing bytes after the "
            "stream (multi-member bodies are outside the subset)"
        )
    return out


def _http_decompress(raw: bytes, encoding: str) -> bytes:
    """Decode a Content-Encoding'd request body. gzip/deflate via
    stdlib (deflate accepts both zlib-wrapped and raw streams — both
    occur in the wild), both behind the bounded-inflate cap; anything
    else refuses loudly naming gzip."""
    import zlib

    if encoding == "gzip":
        try:
            return _bounded_inflate(raw, 16 + zlib.MAX_WBITS, "gzip")
        except ChSqlError:
            raise
        except Exception as exc:  # noqa: BLE001 — wire errors answer 400
            raise ChSqlError(f"bad gzip request body: {exc}") from None
    if encoding == "deflate":
        try:
            return _bounded_inflate(raw, zlib.MAX_WBITS, "deflate")
        except ChSqlError:
            raise
        except zlib.error:
            try:
                return _bounded_inflate(raw, -zlib.MAX_WBITS, "deflate")
            except ChSqlError:
                raise
            except zlib.error as exc:
                raise ChSqlError(
                    f"bad deflate request body: {exc}") from None
    raise ChSqlError(
        f"Content-Encoding {encoding!r} is outside the subset for "
        "request bodies — send gzip or deflate (zstd frames carry no "
        "reliable content size for the bundled codec)"
    )


def _resolve_format(name: str) -> str:
    fmt = next((f for f in _FORMATS if f.lower() == name.lower()), None)
    if fmt is None:
        raise ChSqlError(
            f"FORMAT {name!r} is outside the subset — supported: "
            f"{', '.join(_FORMATS)}"
        )
    return fmt


def _split_format(sql: str, default: str = "TabSeparated") -> tuple[str, str]:
    """Peel a trailing ``FORMAT <name>`` off the statement (the server
    owns serialization; ch_select drops FORMAT). ``default`` is the
    request's ``default_format`` URL parameter when given — CH's own
    parameter for format-less statements; an in-query FORMAT clause
    still wins."""
    import re

    s = sql.strip().rstrip(";")
    m = re.search(r"\bFORMAT\s+([A-Za-z]+)\s*$", s, flags=re.IGNORECASE)
    if not m:
        return s, _resolve_format(default)
    return s[: m.start()].rstrip(), _resolve_format(m.group(1))


def _cell(v) -> str:
    """One value in CH TabSeparated encoding."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, str):
        return (
            v.replace("\\", "\\\\").replace("\t", "\\t")
            .replace("\n", "\\n").replace("\r", "\\r")
        )
    return str(v)


def _json_cell(v):
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    return v


def _csv_array_elem(v) -> str:
    """One element of an array in CH's CSV array encoding (r13,
    ADVICE): the array renders as its TEXT form — string/date elements
    single-quoted with backslash escaping, numbers bare, NULL elements
    the literal ``NULL`` — and the whole bracket expression is then
    CSV-double-quoted by the caller. (Previously elements went through
    the TabSeparated ``_cell``: unquoted strings with tab/newline
    escapes — a divergence from CH's own CSV output.)"""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _dt.datetime):
        return f"'{v.strftime('%Y-%m-%d %H:%M:%S')}'"
    if isinstance(v, _dt.date):
        return f"'{v.isoformat()}'"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_csv_array_elem(x) for x in v) + "]"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return str(v)


def _csv_cell(v) -> str:
    """One value in CH CSV encoding: strings/dates double-quoted with
    ``""`` escaping, numbers bare, NULL → ``\\N`` (CH's CSV NULL),
    bools 1/0, arrays CH's single-quoted text rendering, CSV-quoted."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, _dt.datetime):
        return f'"{v.strftime("%Y-%m-%d %H:%M:%S")}"'
    if isinstance(v, _dt.date):
        return f'"{v.isoformat()}"'
    if isinstance(v, (list, tuple)):
        inner = "[" + ",".join(_csv_array_elem(x) for x in v) + "]"
        return '"' + inner.replace('"', '""') + '"'
    if isinstance(v, str):
        return '"' + v.replace('"', '""') + '"'
    return str(v)


def _ch_type_name(t, nullable: bool) -> str:
    """Spark result type → CH type text for the ``FORMAT JSON`` meta
    block (the same inverse map ChTableSpec._render_type documents,
    over result-schema types)."""
    from pyspark.sql import types as T

    if isinstance(t, T.ArrayType):
        return f"Array({_ch_type_name(t.elementType, t.containsNull)})"
    if isinstance(t, T.DecimalType):
        name = f"Decimal({t.precision}, {t.scale})"
    else:
        name = {
            T.ByteType: "Int8", T.ShortType: "Int16",
            T.IntegerType: "Int32", T.LongType: "Int64",
            T.FloatType: "Float32", T.DoubleType: "Float64",
            T.StringType: "String", T.DateType: "Date",
            T.TimestampType: "DateTime", T.BooleanType: "Bool",
        }.get(type(t), t.simpleString())
    return f"Nullable({name})" if nullable else name


def _serialize(df: DataFrame, fmt: str, max_rows: int) -> bytes:
    if fmt == "Native":
        # r13 s3: CH's own binary columnar format as an HTTP body —
        # the standalone block layout (no TCP framing, no BlockInfo),
        # reusing the wire endpoint's column codecs. Typed NULLs,
        # timestamps and decimals travel natively.
        from postgre_to_clickhouse_spark.ch_native import serialize_native

        return serialize_native(df.schema.fields,
                                collect_bounded(df, max_rows))
    if fmt == "Parquet":
        # r13 (VERDICT r12 #6): CH-HTTP's standard bulk-export format
        # — the natural one for this engine. The bounded result
        # serializes via Arrow (typed columns, NULLs and timestamps
        # native — no text round-trip) into a single in-memory parquet
        # file, behind the same max_result_rows guard as the text
        # formats.
        import io

        import pyarrow.parquet as pq

        table = df.limit(max_rows + 1).toArrow()
        if table.num_rows > max_rows:
            raise ChSqlError(
                f"result exceeds max_result_rows={max_rows} — add a "
                "LIMIT (the endpoint materializes what it returns, like "
                "CH's own max_result_rows guard)"
            )
        buf = io.BytesIO()
        pq.write_table(table, buf)
        return buf.getvalue()
    rows = collect_bounded(df, max_rows)
    cols = df.columns
    out: list[str] = []
    if fmt == "Pretty":
        # CH's box-drawing table: numbers right-aligned, text left
        from pyspark.sql import types as _T

        num = {
            i for i, f in enumerate(df.schema.fields)
            if isinstance(f.dataType, (_T.ByteType, _T.ShortType,
                                       _T.IntegerType, _T.LongType,
                                       _T.FloatType, _T.DoubleType,
                                       _T.DecimalType))
        }
        cells = [[_cell(v) for v in r] for r in rows]
        widths = [
            max([len(c)] + [len(row[i]) for row in cells])
            for i, c in enumerate(cols)
        ]
        out.append("┌" + "┬".join(
            ("─" + c + "─" * (w - len(c) + 1))
            for c, w in zip(cols, widths)) + "┐")
        for row in cells:
            out.append("│" + "│".join(
                " " + (v.rjust(w) if i in num else v.ljust(w)) + " "
                for i, (v, w) in enumerate(zip(row, widths))) + "│")
        out.append("└" + "┴".join("─" * (w + 2) for w in widths) + "┘")
        return ("\n".join(out) + "\n").encode()
    if fmt == "JSONCompact":
        meta = [
            {"name": f.name, "type": _ch_type_name(f.dataType, f.nullable)}
            for f in df.schema.fields
        ]
        payload = {
            "meta": meta,
            "data": [[_json_cell(v) for v in r] for r in rows],
            "rows": len(rows),
        }
        return (json.dumps(payload, indent=1, default=str) + "\n").encode()
    if fmt == "JSON":
        # the CH object envelope (meta/data/rows) — what HTTP
        # dashboards and the CH JDBC driver's HTTP transport request
        meta = [
            {"name": f.name, "type": _ch_type_name(f.dataType, f.nullable)}
            for f in df.schema.fields
        ]
        payload = {
            "meta": meta,
            "data": [
                {c: _json_cell(v) for c, v in zip(cols, r)} for r in rows
            ],
            "rows": len(rows),
        }
        return (json.dumps(payload, indent=1, default=str) + "\n").encode()
    if fmt == "JSONEachRow":
        for r in rows:
            out.append(json.dumps(
                {c: _json_cell(v) for c, v in zip(cols, r)},
                separators=(",", ":"), default=str,
            ))
    elif fmt == "JSONCompactEachRow":
        # r13: one JSON ARRAY per line (values only, column order) —
        # the compact ndjson CH clients use for bulk reads
        for r in rows:
            out.append(json.dumps(
                [_json_cell(v) for v in r],
                separators=(",", ":"), default=str,
            ))
    elif fmt in ("CSV", "CSVWithNames"):
        if fmt == "CSVWithNames":
            out.append(",".join(_csv_cell(c) for c in cols))
        for r in rows:
            out.append(",".join(_csv_cell(v) for v in r))
    else:
        if fmt in ("TabSeparatedWithNames",
                   "TabSeparatedWithNamesAndTypes"):
            out.append("\t".join(cols))
        if fmt == "TabSeparatedWithNamesAndTypes":
            # r13: the typed-header variant CH clients use to read
            # results with types — row 2 carries the CH type text
            # (the same inverse map the FORMAT JSON meta block uses)
            out.append("\t".join(
                _ch_type_name(f.dataType, f.nullable)
                for f in df.schema.fields))
        for r in rows:
            out.append("\t".join(_cell(v) for v in r))
    body = "\n".join(out)
    return (body + "\n" if body else "").encode()


class ChWireEndpoint:
    """A running wire server, whatever its protocol: ``host``, ``port``,
    ``url`` and :meth:`stop`."""

    def __init__(self, scheme: str, host: str, port: int, stop) -> None:
        self.host = host
        self.port = port
        self.url = f"{scheme}://{host}:{port}/"
        self._stop = stop

    def stop(self) -> None:
        self._stop()


def _catalog_of(source):
    """The source check every wire front shares: a fixed
    :class:`ch_select.ChContext` serves SELECTs only (``None``), a
    :class:`ch_ddl.ChDdlCatalog` the full terminal (itself)."""
    if isinstance(source, ChContext):
        return None
    if hasattr(source, "query"):  # ChDdlCatalog duck-type
        return source
    raise TypeError(
        f"source must be a ChContext or ChDdlCatalog, got {type(source)}"
    )


class WireHandle:
    """One wire connection's route into the engine: the session its
    statements run on, and the SELECT-or-statement routing every
    protocol shares."""

    def __init__(self, spark: SparkSession, source) -> None:
        self.catalog = _catalog_of(source)
        self.spark = spark
        self.source = source

    def select(self, sql: str) -> DataFrame:
        """Compile one CH SELECT against the source."""
        if self.catalog is None:
            return ch_select(self.spark, sql, self.source)
        return self.catalog.query(self.spark, sql)

    def run(self, sql: str):
        """Run one statement: SELECT/WITH compile to a frame; anything
        else (CREATE / ALTER / INSERT / TRUNCATE / DROP / OPTIMIZE /
        SHOW ...) executes on a catalog and returns its result — a
        frame for introspection statements — and refuses on a fixed
        context, which stays read-only."""
        sql = sql.strip().rstrip(";")
        if sql[:6].upper().startswith(("SELECT", "WITH")):
            return self.select(sql)
        if self.catalog is None:
            raise ChSqlError(
                "this endpoint serves SELECT statements only (fixed "
                "table context); serve a ChDdlCatalog to accept "
                "DDL/INSERT over the wire"
            )
        return self.catalog.execute(sql, spark=self.spark)


def _opener(spark: SparkSession, source):
    """Check ``source`` and return the function that opens one
    connection's :class:`WireHandle`.

    A session serves one thread at a time: the conf-scoping helper
    (:func:`session.micro_shape`) flips session-wide SQL confs around
    a write, and another thread planning on the same session would see
    them. So each catalog connection runs on its own
    ``spark.newSession()`` (own SQL confs and temp views, the shared
    SparkContext), seeded with the server session's modifiable SQL
    confs as they stand when the server starts. A connection session
    is never ``stop()``ped: that would stop the shared SparkContext.
    A fixed-context connection keeps the context's own session — its
    frames, and the temp views ``ch_select`` registers for them,
    belong to that session — and, being read-only, runs no write that
    flips a conf."""
    if _catalog_of(source) is None:
        return lambda: WireHandle(spark, source)
    confs = {k: v for k, v in spark.conf.getAll.items()
             if spark.conf.isModifiable(k)}

    def open_handle() -> WireHandle:
        conn_spark = spark.newSession()
        for k, v in confs.items():
            conn_spark.conf.set(k, v)
        return WireHandle(conn_spark, source)

    return open_handle


def serve_wire(spark: SparkSession, source, host: str, port: int,
               scheme: str, serve_conn) -> ChWireEndpoint:
    """Serve a socket protocol on ``host:port``: each accepted
    connection runs ``serve_conn(sock, handle)`` on its own thread with
    its own :class:`WireHandle`. The socket closes however
    ``serve_conn`` ends; a client that went away (``OSError``,
    ``EOFError``) or a stream that can no longer be trusted
    (``ChSqlError`` outside a statement) ends only its own
    connection."""
    open_handle = _opener(spark, source)
    srv = socket.create_server((host, port))
    stopped = threading.Event()

    def serve_one(conn: socket.socket) -> None:
        try:
            serve_conn(conn, open_handle())
        except (EOFError, OSError, ChSqlError):
            pass
        finally:
            conn.close()

    def accept_loop() -> None:
        while not stopped.is_set():
            try:
                conn, _addr = srv.accept()
            except OSError:
                return
            threading.Thread(target=serve_one, args=(conn,),
                             name=f"ch-{scheme}-conn", daemon=True).start()

    def stop() -> None:
        stopped.set()
        srv.close()

    threading.Thread(target=accept_loop, name=f"ch-{scheme}",
                     daemon=True).start()
    return ChWireEndpoint(scheme, host, srv.getsockname()[1], stop)


def serve_ch_http(
    spark: SparkSession,
    source,
    host: str = "127.0.0.1",
    port: int = 0,
    max_result_rows: int = 100_000,
) -> ChWireEndpoint:
    """Start the CH-dialect HTTP endpoint. ``source`` is either a
    :class:`ch_select.ChContext` (fixed table frames) or a
    :class:`ch_ddl.ChDdlCatalog` with storage (queries run against its
    stored tables via :meth:`ChDdlCatalog.query`). ``port=0`` picks a
    free port. Stop with :meth:`ChWireEndpoint.stop`."""
    open_handle = _opener(spark, source)

    class _Handler(BaseHTTPRequestHandler):
        # keep-alive: every answer goes through _answer, which sends
        # Content-Length, so a client can reuse the connection (and
        # its WireHandle) for its next request
        protocol_version = "HTTP/1.1"
        timeout = _KEEPALIVE_IDLE_S

        def setup(self) -> None:  # once per connection
            super().setup()
            # headers and body go out as two writes; on a kept-alive
            # connection Nagle holds the body until the client's
            # delayed ACK (~40 ms per answer) unless NODELAY is set
            self.connection.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            self.h = open_handle()

        def log_message(self, *a):  # quiet: the endpoint is a library
            pass

        def _answer(self, code: int, body: bytes,
                    ctype: str = "text/tab-separated-values",
                    encoding: str | None = None, level: int = 3) -> None:
            if encoding is not None and body:
                body = _http_compress(body, encoding, level)
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            if encoding is not None and body:
                self.send_header("Content-Encoding", encoding)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _negotiate(self, params) -> tuple[str | None, int]:
            """(response encoding | None, zlib level) — CH semantics:
            responses compress only under enable_http_compression=1
            AND a client Accept-Encoding; server preference gzip >
            zstd > deflate among what the client accepts (zstd skipped
            when no codec is bundled)."""
            if params.get("enable_http_compression", ["0"])[0] \
                    not in ("1", "true"):
                return None, 3
            level = 3
            if "http_zlib_compression_level" in params:
                v = params["http_zlib_compression_level"][0]
                if v.isdigit() and 1 <= int(v) <= 9:
                    level = int(v)
            accepted = _accept_encodings(
                self.headers.get("Accept-Encoding", ""))
            for enc in ("gzip", "zstd", "deflate"):
                q = accepted.get(enc, accepted.get("*", 0.0))
                if q <= 0:
                    continue
                if enc == "zstd":
                    from postgre_to_clickhouse_spark import (
                        ch_compress as _cc,
                    )

                    if _cc._ZSTD is None:
                        continue
                return enc, level
            return None, level

        def _serve_query(self, sql: str, params=None) -> None:
            if not sql.strip():
                self._answer(400, b"empty query\n", "text/plain")
                return
            params = params or {}
            enc, level = self._negotiate(params)
            try:
                # CH URL parameters (r12): default_format applies when
                # the statement has no FORMAT clause; max_result_rows
                # may TIGHTEN the server bound per request (never
                # exceed it — a client cannot lift the OOM guard)
                default = params.get("default_format", ["TabSeparated"])[0]
                cap = max_result_rows
                if "max_result_rows" in params:
                    v = params["max_result_rows"][0]
                    if not v.isdigit() or int(v) < 1:
                        raise ChSqlError(
                            "max_result_rows must be a positive integer")
                    cap = min(int(v), max_result_rows)
                stmt, fmt = _split_format(sql, default)
                res = self.h.run(stmt)
                if not isinstance(res, DataFrame):  # DDL, INSERT, ...
                    self._answer(200, b"", "text/plain")
                    return
                body = _serialize(res, fmt, cap)
            except Exception as exc:  # noqa: BLE001 — CH answers errors as text
                self._answer(
                    500, f"{type(exc).__name__}: {exc}\n".encode(),
                    "text/plain", encoding=enc, level=level,
                )
                return
            ctype = {
                "JSONEachRow": "application/x-ndjson",
                "JSONCompactEachRow": "application/x-ndjson",
                "JSON": "application/json",
                "JSONCompact": "application/json",
                "CSV": "text/csv",
                "CSVWithNames": "text/csv",
                "Pretty": "text/plain; charset=UTF-8",
                "Parquet": "application/octet-stream",
                "Native": "application/octet-stream",
            }.get(fmt, "text/tab-separated-values")
            self._answer(200, body, ctype, encoding=enc, level=level)

        def do_GET(self) -> None:
            u = urlparse(self.path)
            if u.path == "/ping":
                self._answer(200, b"Ok.\n", "text/plain")
                return
            params = parse_qs(u.query)
            q = params.get("query", [""])[0]
            self._serve_query(q, params)

        def do_POST(self) -> None:
            u = urlparse(self.path)
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n) if n else b""
            params = parse_qs(u.query)
            q = params.get("query", [""])[0]
            # Content-Encoding'd request body (r16): CH decompresses
            # requests unconditionally — no setting gates this side
            cenc = (self.headers.get("Content-Encoding") or "") \
                .strip().lower()
            if raw and cenc and cenc != "identity":
                try:
                    raw = _http_decompress(raw, cenc)
                except ChSqlError as exc:
                    self._answer(400, f"{exc}\n".encode(), "text/plain")
                    return
            # CH semantics: query in the URL OR in the body; BOTH set
            # is the INSERT-data split — the URL carries `INSERT INTO t
            # FORMAT JSONEachRow`, the body the ndjson rows (r11).
            # FORMAT Native bodies are BINARY — only the text-format
            # paths decode.
            if q and not raw.strip():
                # An INSERT-data-split URL with an EMPTY body must not
                # fall through to _serve_query (the INSERT ... FORMAT
                # text would execute as a terminal statement and raise
                # a misleading error). Real CH accepts an empty body
                # for every recognized row/block format as a 0-row
                # insert (clients legitimately flush empty batches) —
                # answer 200 as a no-op commit (ADVICE r14).
                if _INSERT_DATA.match(q.strip().rstrip(";")):
                    self._answer(200, b"", "text/plain")
                    return
            if q and raw.strip():
                m = _INSERT_DATA.match(q.strip().rstrip(";"))
                cat = self.h.catalog
                if m is None or cat is None:
                    self._answer(
                        400,
                        b"query in both URL and body is the INSERT-data "
                        b"split: the URL must carry `INSERT INTO t "
                        b"[(cols)] FORMAT JSONEachRow|CSV[WithNames]|"
                        b"TabSeparated[WithNames]|Native` "
                        b"and the endpoint must be catalog-backed\n",
                        "text/plain",
                    )
                    return
                name = m.group(1).rsplit(".", 1)[-1]
                cols = (
                    [c.strip() for c in m.group(2).split(",") if c.strip()]
                    if m.group(2) else None
                )
                up_fmt = m.group(3).lower()
                try:
                    if up_fmt == "native":
                        # binary body — row bound enforced inside
                        # (blocks carry their own row counts)
                        cat.insert_native_blocks(
                            self.h.spark, name, raw, cols,
                            max_rows=max_result_rows,
                        )
                        self._answer(200, b"", "text/plain")
                        return
                    lines = raw.decode().splitlines()
                    if len(lines) > max_result_rows:
                        self._answer(
                            500,
                            f"INSERT body exceeds max_result_rows="
                            f"{max_result_rows} lines\n".encode(),
                            "text/plain",
                        )
                        return
                    if up_fmt == "jsoneachrow":
                        cat.insert_json_rows(
                            self.h.spark, name, lines, cols)
                    elif up_fmt in ("tabseparated", "tsv",
                                    "tabseparatedwithnames",
                                    "tabseparatedwithnamesandtypes"):
                        cat.insert_tsv_rows(
                            self.h.spark, name, lines, cols,
                            with_names=up_fmt.startswith(
                                "tabseparatedwithnames"),
                            with_types=(up_fmt
                                        == "tabseparatedwithnamesandtypes"),
                        )
                    else:
                        cat.insert_csv_rows(
                            self.h.spark, name, lines, cols,
                            with_names=(up_fmt == "csvwithnames"),
                        )
                except Exception as exc:  # noqa: BLE001
                    self._answer(
                        500, f"{type(exc).__name__}: {exc}\n".encode(),
                        "text/plain",
                    )
                    return
                self._answer(200, b"", "text/plain")
                return
            self._serve_query(q or raw.decode(errors="replace"), params)

    srv = ThreadingHTTPServer((host, port), _Handler)
    srv.daemon_threads = True

    def stop() -> None:
        srv.shutdown()
        srv.server_close()

    threading.Thread(target=srv.serve_forever, name="ch-http",
                     daemon=True).start()
    return ChWireEndpoint("http", host, srv.server_address[1], stop)


def register_ch_global_view(
    spark: SparkSession, name: str, ch_sql: str, source
) -> DataFrame:
    """Compile verbatim CH SELECT text and expose the result as a
    ``global_temp`` view — the bridge that makes CH-dialect results
    queryable over the r7 Thrift/JDBC endpoint (per-connection
    HiveServer2 sessions share the catalog and GLOBAL temp views, not
    local ones). Returns the compiled frame."""
    stmt, _fmt = _split_format(ch_sql)
    df = WireHandle(spark, source).select(stmt)
    df.createOrReplaceGlobalTempView(name)
    return df
