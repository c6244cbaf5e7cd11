"""SQL DDL surface (SURVEY.md A22): the engine's analogue of the
reference's CREATE DATABASE / CREATE TABLE / CREATE MATERIALIZED VIEW
statements (``/root/reference/README.md:96,164-230``), executed against
the Spark session catalog.

The reference's three DDL objects themselves run verbatim through
``ch_ddl.ChDdlCatalog``; this module registers the analytics tables as
session views, serves the session catalog over Thrift, and applies the
CH ALTER dialect to a manifest table.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from postgre_to_clickhouse_spark.session import configure


def create_analytics_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the analytics tables as SQL views (the ClickHouse-endpoint
    role, SURVEY.md Tier B): after this, every Tier-B query is also
    runnable as plain `spark.sql` text."""
    from postgre_to_clickhouse_spark import catalog

    configure(spark)
    catalog.register_views(spark, sf_dir)


class SqlEndpoint:
    """Handle for a running in-process HiveServer2-protocol endpoint —
    ``url`` is the JDBC address any beeline/JDBC/ODBC client dials.

    ONCE-PER-JVM (r11): HiveThriftServer2 cannot be restarted inside
    one JVM — a stop() + second ``startWithContext`` never binds again
    (observed: the second start's listener thread dies silently and
    the readiness probe times out). ``serve_sql_endpoint`` therefore
    caches the first endpoint and returns it to every later caller,
    and ``stop()`` is a deliberate NO-OP keeping the server serving —
    releasing it would strand every subsequent caller in the
    unrestartable state. The server dies with the JVM."""

    def __init__(self, server, host: str, port: int):
        self._server = server
        self.host = host
        self.port = port
        self.url = f"jdbc:hive2://{host}:{port}/default"

    def stop(self) -> None:
        """No-op by design — see the class docstring."""


_ENDPOINT: "SqlEndpoint | None" = None


def serve_sql_endpoint(
    spark: SparkSession,
    port: int = 0,
    host: str = "127.0.0.1",
    timeout_s: float = 30.0,
) -> SqlEndpoint:
    """Start the engine's wire-protocol SQL endpoint (r7, VERDICT r6
    #6): the analogue of the reference's interactive surface — the
    ClickHouse server listens on native TCP 9000 / HTTP 8123 / MySQL
    9004 (``/root/reference/clickhouse-server/config.d/config.xml:
    11-12,30``, ``README.md:156``); Spark's equivalent is the Thrift
    JDBC/ODBC server (HiveServer2 protocol) sharing THIS session's
    catalog, so every view registered by
    :func:`create_analytics_views` is queryable from beeline, JDBC, or
    ODBC. ``port=0`` picks a free port. Spark Connect
    (``spark.api.mode=connect`` at launch, gRPC port 15002) is the
    other public wire option; Thrift is started here because it needs
    no session-launch flag.

    In-process (``HiveThriftServer2.startWithContext``), so per-
    connection sessions share the catalog but NOT local temp views —
    register shared objects as global temp views or catalog tables.
    Gated: raises RuntimeError with the spark-submit fallback if the
    thriftserver classes are missing from the distribution."""
    import socket
    import time

    global _ENDPOINT
    if _ENDPOINT is not None:
        return _ENDPOINT  # once-per-JVM — see SqlEndpoint docstring

    configure(spark)
    jvm = spark.sparkContext._jvm
    try:
        # force real class resolution before we mutate any conf (py4j
        # resolves member access lazily, so a bare attribute chain
        # would not detect a missing jar)
        jvm.java.lang.Class.forName(
            "org.apache.spark.sql.hive.thriftserver.HiveThriftServer2"
        )
        cls = jvm.org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
    except Exception as e:  # pragma: no cover — full dist always has it
        raise RuntimeError(
            "spark-hive-thriftserver is not on the classpath; launch via "
            "`spark-submit --class org.apache.spark.sql.hive.thriftserver."
            "HiveThriftServer2` or `sbin/start-thriftserver.sh` instead"
        ) from e
    if port == 0:
        s = socket.socket()
        s.bind((host, 0))
        port = s.getsockname()[1]
        s.close()
    spark.conf.set("hive.server2.thrift.bind.host", host)
    spark.conf.set("hive.server2.thrift.port", str(port))
    server = cls.startWithContext(spark._jsparkSession.sqlContext())
    deadline = time.time() + timeout_s
    while True:
        try:
            probe = socket.create_connection((host, port), 1)
            probe.close()
            _ENDPOINT = SqlEndpoint(server, host, port)
            return _ENDPOINT
        except OSError:
            if time.time() > deadline:
                server.stop()
                raise TimeoutError(
                    f"thrift endpoint did not listen on {host}:{port} "
                    f"within {timeout_s}s"
                )
            time.sleep(0.2)


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses and single-quoted strings."""
    parts, depth, in_str, cur = [], 0, False, []
    for ch in s:
        if in_str:
            cur.append(ch)
            if ch == "'":
                in_str = False
            continue
        if ch == "'":
            in_str = True
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


def execute_alter(spark: SparkSession, table, sql: str) -> int:
    """Execute a ClickHouse-dialect ``ALTER TABLE`` statement against a
    :class:`~postgre_to_clickhouse_spark.sinks.manifest.ManifestTable`
    — the statements the reference's users type at their terminal
    ClickHouse (mutations and projections, CH 24.3 DDL):

    - ``ALTER TABLE t UPDATE col = expr[, ...] WHERE pred``
    - ``ALTER TABLE t DELETE WHERE pred``
    - ``ALTER TABLE t ADD PROJECTION p (SELECT ... ORDER BY col)``
    - ``ALTER TABLE t ADD PROJECTION p (SELECT k1[, k2...], agg(v) AS
      out[, ...] GROUP BY k1[, k2...])``
    - ``ALTER TABLE t DROP PROJECTION p``

    The table name in the statement is informational (the handle is
    explicit); anything unrecognized raises — refuse loudly rather
    than silently skipping a mutation. Returns the committed version.
    """
    import re as _re

    s = " ".join(sql.split()).rstrip(";")
    m = _re.fullmatch(
        r"ALTER\s+TABLE\s+\S+\s+(.*)", s, flags=_re.IGNORECASE | _re.DOTALL
    )
    if not m:
        raise ValueError(f"not an ALTER TABLE statement: {sql!r}")
    body = m.group(1).strip()

    m = _re.fullmatch(
        r"UPDATE\s+(.+?)\s+WHERE\s+(.+)", body, flags=_re.IGNORECASE | _re.DOTALL
    )
    if m:
        assignments = {}
        for part in _split_top_level(m.group(1)):
            am = _re.fullmatch(r"([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)", part)
            if not am:
                raise ValueError(f"bad UPDATE assignment: {part!r}")
            assignments[am.group(1)] = am.group(2)
        return table.update_where(spark, assignments, m.group(2))

    m = _re.fullmatch(r"DELETE\s+WHERE\s+(.+)", body, flags=_re.IGNORECASE | _re.DOTALL)
    if m:
        return table.delete_where(spark, m.group(1))

    m = _re.fullmatch(
        r"ADD\s+PROJECTION\s+([A-Za-z0-9_]+)\s*\(\s*SELECT\s+(.+)\s*\)",
        body,
        flags=_re.IGNORECASE | _re.DOTALL,
    )
    if m:
        name, sel = m.group(1), m.group(2).strip()
        om = _re.fullmatch(
            r"(.*?)\s+ORDER\s+BY\s+([A-Za-z_][A-Za-z0-9_]*)\s*",
            sel,
            flags=_re.IGNORECASE | _re.DOTALL,
        )
        gm = _re.fullmatch(
            r"(.+?)\s+GROUP\s+BY\s+(.+)", sel, flags=_re.IGNORECASE | _re.DOTALL
        )
        if gm:
            group_by = tuple(
                c.strip() for c in _split_top_level(gm.group(2))
            )
            aggs = {}
            for item in _split_top_level(gm.group(1)):
                if item.strip() in group_by:
                    continue
                # the empty-paren form is CH's canonical count(): map to
                # ('count', '*') (ADVICE r9 — verbatim CH DDL uses it)
                im = _re.fullmatch(
                    r"(sum|count|min|max)\s*\(\s*(\*|[A-Za-z_][A-Za-z0-9_]*)?\s*\)"
                    r"(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?",
                    item.strip(),
                    flags=_re.IGNORECASE,
                )
                if not im or (im.group(2) is None and im.group(1).lower() != "count"):
                    raise ValueError(
                        f"aggregate projection item {item!r} is not a "
                        "re-aggregatable sum/count/min/max term"
                    )
                fn = im.group(1).lower()
                src = im.group(2) or "*"
                out = im.group(3) or (
                    "n" if fn == "count" else f"{fn}_{src}"
                )
                aggs[out] = (fn, src)
            return table.add_agg_projection(spark, name, group_by, aggs)
        if om:
            return table.add_projection(spark, name, om.group(2))
        raise ValueError(
            f"ADD PROJECTION needs ORDER BY (sort layout) or GROUP BY "
            f"(aggregate layout): {sel!r}"
        )

    m = _re.fullmatch(
        r"DROP\s+PROJECTION\s+([A-Za-z0-9_]+)", body, flags=_re.IGNORECASE
    )
    if m:
        return table.drop_projection(m.group(1))

    raise ValueError(f"unsupported ALTER TABLE clause: {body!r}")
