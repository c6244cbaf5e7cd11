"""Table catalog over the driver's parquet fixtures.

The reference declares a fixed schema at every hop (PG DDL, Avro schema
in the registry, ClickHouse DDL — ``/root/reference/README.md:96-102,
167-175,189-196``; SURVEY.md §1.3). We mirror that stance: a fixed table
registry, explicit load, no runtime inference in the pipeline path
(parquet footers carry the schema; we validate expected columns).

Schema lookup, not inference per read: the first :func:`load` of a file
runs Spark's footer inference (one Spark job); every later load passes
the remembered ``StructType`` to ``spark.read.schema(...)``, which
submits no job. The lookup key is the file's identity — absolute path,
size and ``mtime_ns`` (of every file under it, for a directory table) —
plus the session confs that change what inference returns
(:data:`_INFER_CONFS`, e.g. ``nanosAsLong``, which ``session.configure``
flips at runtime). A rewritten file or a flipped conf therefore infers
afresh. Only the schema is remembered: each call still returns a new
lazy DataFrame that scans the file, so no plan, frame or result is
shared between calls. Paths ``os.stat`` cannot see (remote stores) are
inferred on every read.

At 100 TB these tables are date/key-partitioned parquet/lakehouse tables;
the loader keeps scans lazy so Catalyst pushes filters and prunes columns
down to the file scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Known-small dimensions that are always safe to broadcast regardless of
# scale factor (bounded cardinality by construction, like TPC-H).
BROADCAST_DIMS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs that change the schema parquet inference returns.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# (abs path, file identity, inference confs) -> StructType
_SCHEMAS: dict[tuple, StructType] = {}


def _identity(path: str) -> tuple:
    """``(relpath, size, mtime_ns)`` of the file, or of every file
    under a directory table: any rewrite changes it."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    out = []
    for d, _, files in os.walk(path):
        for f in files:
            full = os.path.join(d, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _read(spark: SparkSession, path: str) -> DataFrame:
    """Lazy parquet scan of ``path`` under its remembered schema (see
    the module docstring for the key)."""
    try:
        ident = _identity(path)
    except OSError:  # remote or missing: Spark resolves it, or raises
        return spark.read.parquet(path)
    key = (os.path.abspath(path), ident,
           tuple(spark.conf.get(k) for k in _INFER_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    df = _read(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # Timestamp normalization. The fixture generator has shipped the same
    # logical column under several physical encodings across rounds:
    #   - TIMESTAMP(NANOS): with legacy nanosAsLong (session.configure) it
    #     surfaces as epoch-nanos LongType — convert with µs truncation,
    #     the same truncation DuckDB applies reading ns→µs.
    #   - naive TIMESTAMP(MICROS): Spark 4 reads it as TIMESTAMP_NTZ
    #     (inferTimestampNTZ) — functions like unix_micros/to_utc_timestamp
    #     require TIMESTAMP, so cast. Session tz is pinned to UTC
    #     (session.configure), making the cast a pure type-tag change that
    #     matches DuckDB's naive-as-UTC interpretation.
    # Normalizing here keeps every downstream operator engine-agnostic.
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    casts = {}
    for field in df.schema.fields:
        if isinstance(field.dataType, LongType) and field.name in _NANO_TS_COLS.get(name, ()):
            casts[field.name] = F.timestamp_micros(F.expr(f"{field.name} div 1000"))
        elif isinstance(field.dataType, TimestampNTZType):
            casts[field.name] = F.col(field.name).cast("timestamp")
    if casts:
        df = df.withColumns(casts)
    return df


# Tables whose parquet files carry TIMESTAMP(NANOS) columns (physical
# int64 nanos). Fixed per TESTDATA.md's generator output.
_NANO_TS_COLS = {"events": ("ts",)}


FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "fixtures"
)


def load_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's fixtures carry no ``partsupp`` (TESTDATA.md), so the
    repo ships a deterministic spec-shaped one per SF (generated by
    ``tools/gen_partsupp.py`` from the SF's part/supplier keys — TPC-H
    §4.2.3 suppkey spreading). Keyed off the sf dir's basename; both
    engines read the same committed parquet (DuckDB oracles via
    ``read_parquet`` with an SF guard)."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = os.path.join(FIXTURE_DIR, f"partsupp.{tag}.parquet")
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no partsupp fixture for {tag}; run tools/gen_partsupp.py"
        )
    return _read(spark, path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
