"""SparkSession construction and runtime tuning.

Scale posture (100 TB design, tested on local[32]):
- AQE on: runtime re-planning handles skew joins and coalesces
  post-shuffle partitions, so a fixed ``shuffle.partitions`` is only a
  ceiling, not a latency floor, on small SFs.
- Broadcast threshold left at default (10 MB): tiny dims (region, nation,
  supplier at low SF) broadcast automatically; genuinely large tables
  shuffle. We additionally hint ``F.broadcast`` where a dim is known-small
  by construction.
- Arrow enabled for any pandas interchange (Tier-C operators).

Every query callable runs :func:`configure` on the session it receives —
the driver owns the session, so only runtime-settable confs are used
there. ``get_spark`` is for tests/bench where we own the builder.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied to *any* session (including the
# driver's). Keep to confs that SparkSession.conf.set accepts post-start.
_RUNTIME_CONF: dict[str, str] = {
    # Deterministic timestamp semantics vs the DuckDB oracle (naive µs
    # timestamps in parquet): treat everything as UTC.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # local[N] testing: 32 is plenty for <=sf0.1; at cluster scale this is
    # overridden by --conf and AQE coalescing makes it a ceiling anyway.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The fixture generator writes events.ts as parquet TIMESTAMP(NANOS),
    # which Spark has no native type for — read as epoch-nanos long and
    # convert in catalog.load (µs truncation, matching DuckDB).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # answer bare MIN/MAX/COUNT from parquet footers instead of scanning
    # row groups (no effect on filtered/grouped aggs; exact semantics)
    "spark.sql.parquet.aggregatePushdown": "true",
    # r16 optimization: AQE partition coalescing floors post-shuffle
    # partitions at 1 MB by default, which serializes CPU-bound text
    # stages (per-character folds, candidate verifies) onto 2-3 tasks
    # whenever the shuffled BYTES are small but the per-byte compute is
    # not. 256k keeps tiny-stage parallelism on small inputs; at
    # cluster scale any non-trivial stage carries >= cores x 1 MB and
    # the floor never binds, so coalescing behaves exactly as before.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": os.environ.get(
        "SPARK_GRAFT_MIN_COALESCE", "256k"
    ),
}


from contextlib import contextmanager


@contextmanager
def micro_shape(spark: SparkSession, width: int | str | None = "derived"):
    """Run one micro-batch-bounded ACTION non-adaptively (r16
    optimization) — the one conf-scoping helper. AQE materializes every
    exchange of a query as its own stage-submission JOB (~50-100 ms of
    driver gap apiece), so a small fixed-shape action (a bucket write,
    a part-sized index read-back, an MV partial-state append) pays one
    scheduling+planning round per exchange where a non-adaptive plan
    pays one total — and re-planning has nothing to decide for these:
    widths are explicit or micro-batch-bounded and there is no join
    strategy to revisit. Everything analytical keeps AQE.

    ``width`` is the shuffle width for the duration. The default pins
    ``max(2, defaultParallelism // 8)``: micro-batch part writes
    shuffle kilobytes of rows, and AQE off at the full
    ``shuffle.partitions`` runs that many near-empty tasks (a measured
    3.2 -> 5.9 s regression on a topK state-MV ingest at sf0.1).
    Width scales with the cluster, not a local constant. ``width=None``
    keeps the session's width (only AQE goes off), for actions whose
    width is explicit anyway. The confs are restored on exit.

    A session serves one thread at a time: the flipped confs are
    session-wide for the duration, so a plan made on the same session
    by another thread would see them. The wire core
    (``ch_http.serve_wire`` / ``serve_ch_http``) gives each catalog
    connection its own session."""
    if width == "derived":
        width = max(2, spark.sparkContext.defaultParallelism // 8)
    confs = {"spark.sql.adaptive.enabled": "false"}
    if width is not None:
        confs["spark.sql.shuffle.partitions"] = str(width)
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-owned or ours)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not settable at runtime in this build — skip
            pass
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Pandas-path operators (mapInPandas / applyInPandas) pickle their
    closures by reference to this module; workers spawned by a driver
    running outside the repo (the grading driver, spark-submit from
    elsewhere) can't import it from cwd. Shipping a zip via addPyFile
    fixes that for local and cluster mode alike. Once per session.
    """
    if getattr(spark, "_p2c_pkg_shipped", False):
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    # content-addressed archive name: editing any package source produces
    # a fresh zip, so executors never import stale code from a previous
    # driver process's archive
    digest = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(pkg_dir)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                digest.update(full.encode())
                with open(full, "rb") as f:
                    digest.update(f.read())
    zpath = os.path.join(tempfile.gettempdir(), f"p2c_spark_pkg_{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for dirpath, _, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        z.write(full, os.path.relpath(full, root))
        os.replace(tmp, zpath)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # e.g. Spark Connect without SparkContext — workers use PYTHONPATH
    spark._p2c_pkg_shipped = True


def get_spark(app_name: str = "p2c-spark") -> SparkSession:
    """Build a local session (tests / bench). Honors SPARK_GRAFT_CPUS."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    )
    return configure(builder.getOrCreate())
