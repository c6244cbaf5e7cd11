"""Sources: JDBC option wiring (no live PG — reader config only),
CSV/JSON schema-first scans round-tripping the catalog tables."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgre_to_clickhouse_spark import catalog
from postgre_to_clickhouse_spark.sources.files import read_csv, read_json, write_partitioned
from postgre_to_clickhouse_spark.sources.jdbc import PostgresSource
from tests.conftest import SF_SMALL


def test_jdbc_include_list_enforced(spark):
    src = PostgresSource()
    with pytest.raises(ValueError, match="not in include list"):
        src.snapshot_reader(spark, "public.orders")


def test_jdbc_reader_options(spark):
    src = PostgresSource(host="h", port=5999, database="d")
    reader = src.snapshot_reader(
        spark, "public.users", partition_column="user_id", num_partitions=16,
        lower_bound=0, upper_bound=100000, predicate="account_type = 'Gold'",
    )
    assert src.url == "jdbc:postgresql://h:5999/d"
    assert reader is not None  # reader configured without connecting


def test_csv_json_roundtrip_matches_parquet(spark, tmp_path):
    ev = catalog.load(spark, SF_SMALL, "events").select("event_id", "event_type", "value")
    csv_path, json_path = str(tmp_path / "ev_csv"), str(tmp_path / "ev_json")
    ev.write.option("header", "true").csv(csv_path)
    ev.write.json(json_path)
    schema = "event_id long, event_type string, value double"
    from pyspark.sql.types import _parse_datatype_string

    back_csv = read_csv(spark, csv_path, _parse_datatype_string(schema))
    back_json = read_json(spark, json_path, _parse_datatype_string(schema))
    base = sorted(map(tuple, ev.collect()))
    assert sorted(map(tuple, back_csv.collect())) == base
    assert sorted(map(tuple, back_json.collect())) == base


def test_write_partitioned_prunes(spark, tmp_path):
    o = catalog.load(spark, SF_SMALL, "orders").withColumn("yr", F.year("o_orderdate"))
    path = str(tmp_path / "orders_part")
    write_partitioned(o, path, partition_by=["yr"])
    back = spark.read.parquet(path).filter(F.col("yr") == 1995)
    plan = back._sc._jvm.PythonSQLUtils.explainString(back._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [isnotnull(yr" in plan  # partition pruning active
    assert back.count() == o.filter(F.col("yr") == 1995).count()


def test_partsupp_fixture_matches_generator():
    """The committed partsupp parquet must stay byte-derivable from the
    generator (tools/gen_partsupp.py) — the spec-true TPC-H variants and
    their oracles both read the committed file, so silent drift would
    invalidate q2/q11/q16/q20_spec."""
    import os
    import sys

    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from gen_partsupp import OUT_DIR, gen_one

    for tag, sf_dir in [("sf0_001", "/root/testdata/sf0.001"), ("sf0_01", "/root/testdata/sf0.01")]:
        fresh = gen_one(sf_dir)
        committed = pq.read_table(os.path.join(OUT_DIR, f"partsupp.{tag}.parquet"))
        assert fresh.equals(committed), f"partsupp fixture drift at {tag}"
        # spec properties the q2/q11/q16/q20_spec claims rest on:
        # (ps_partkey, ps_suppkey) is a PK and every part has exactly
        # 4 distinct suppliers (degenerates at tiny S without the
        # generator's fallback spread)
        pairs = list(zip(committed.column("ps_partkey").to_pylist(),
                         committed.column("ps_suppkey").to_pylist()))
        assert len(set(pairs)) == len(pairs), f"duplicate partsupp PK at {tag}"
        per_part: dict[int, set[int]] = {}
        for pk, sk in pairs:
            per_part.setdefault(pk, set()).add(sk)
        assert all(len(v) == 4 for v in per_part.values()), (
            f"some part lacks 4 distinct suppliers at {tag}"
        )
