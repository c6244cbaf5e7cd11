"""``catalog.load``'s schema lookup: the remembered schema is exactly
what a fresh inference returns, a cache hit reads the same frame as a
cold load, and a rewritten file or a flipped inference conf infers
afresh instead of serving a stale schema."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from postgre_to_clickhouse_spark import catalog
from tests.conftest import SF_SMALL

# every SF directory present beside the smallest one
SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*")))


@pytest.fixture
def fresh_cache(monkeypatch):
    """An empty schema cache for the test; the shared one is restored."""
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    return catalog._SCHEMAS


@pytest.fixture
def conf(spark):
    """Set session confs for the test and put the old values back."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        spark.conf.set(key, value)


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_cached_schema_equals_fresh_inference(spark, sf_dir, fresh_cache):
    for t in catalog.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        catalog._read(spark, path)  # miss: infers and remembers
        assert len(fresh_cache) == 1
        (cached,) = fresh_cache.values()
        assert cached == spark.read.parquet(path).schema, t
        assert catalog._read(spark, path).schema == cached, t  # hit
        fresh_cache.clear()


@pytest.mark.parametrize("name", ["events", "lineitem", "embeddings"])
def test_cache_hit_frame_matches_cold_load(spark, name, fresh_cache):
    sf_dir = SF_SMALL
    cold = catalog.load(spark, sf_dir, name)
    assert fresh_cache, "the cold load did not remember its schema"
    hit = catalog.load(spark, sf_dir, name)
    assert hit is not cold
    assert hit.schema == cold.schema
    assert hit.count() == cold.count()


def test_rewritten_file_is_reinferred(spark, tmp_path, fresh_cache):
    src = SF_SMALL
    shutil.copyfile(f"{src}/region.parquet", tmp_path / "region.parquet")
    first = catalog.load(spark, str(tmp_path), "region")
    assert first.schema == spark.read.parquet(f"{src}/region.parquet").schema

    shutil.copyfile(f"{src}/nation.parquet", tmp_path / "region.parquet")
    again = catalog.load(spark, str(tmp_path), "region")
    assert again.schema != first.schema
    assert again.schema == spark.read.parquet(f"{src}/nation.parquet").schema
    assert again.count() == spark.read.parquet(f"{src}/nation.parquet").count()


def test_raw_type_follows_nanos_conf(spark, tmp_path, conf, fresh_cache):
    """An events copy with ``ts`` as TIMESTAMP(NANOS): the raw type is
    epoch-nanos LongType only while ``nanosAsLong`` is on; with it off
    Spark refuses the column instead of the cache serving LongType."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_SMALL}/events.parquet")
    t = t.set_column(t.schema.get_field_index("ts"), "ts",
                     t.column("ts").cast(pa.timestamp("ns")))
    path = str(tmp_path / "events.parquet")
    pq.write_table(t, path, version="2.6")

    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert isinstance(catalog._read(spark, path).schema["ts"].dataType, LongType)
    conf("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        catalog._read(spark, path)
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert isinstance(catalog._read(spark, path).schema["ts"].dataType, LongType)
    # normalised, the epoch-nanos column is a TIMESTAMP
    assert isinstance(catalog.load(spark, str(tmp_path), "events").schema["ts"].dataType,
                      TimestampType)


def test_raw_type_follows_ntz_conf(spark, conf, fresh_cache):
    path = f"{SF_SMALL}/events.parquet"
    conf("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    assert isinstance(catalog._read(spark, path).schema["ts"].dataType, TimestampNTZType)
    conf("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert isinstance(catalog._read(spark, path).schema["ts"].dataType, TimestampType)
    assert len(fresh_cache) == 2
