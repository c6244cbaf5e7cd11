"""SQL DDL surface (SURVEY.md A22): the engine's analogue of the
reference's CREATE DATABASE / CREATE TABLE / CREATE MATERIALIZED VIEW
statements (``/root/reference/README.md:96,164-230``), executed against
the Spark session catalog.

The reference's DDL itself (CREATE and ALTER, mutations and
projections included) runs verbatim through ``ch_ddl.ChDdlCatalog``;
this module registers the analytics tables as session views and serves
the session catalog over Thrift.
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
