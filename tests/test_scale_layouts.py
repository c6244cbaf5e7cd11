"""Scale-layout proofs: bucketed co-located joins eliminate the shuffle,
salted aggregation matches direct aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgre_to_clickhouse_spark import catalog
from postgre_to_clickhouse_spark.operators.skew import salted_agg
from postgre_to_clickhouse_spark.sinks.maintenance import write_bucketed
from tests.conftest import SF_SMALL


def _plan(df):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_bucketed_join_has_no_shuffle(spark):
    """The SCALE.md claim, proven: lineitem⋈orders bucketed on orderkey
    → SortMergeJoin with ZERO Exchange operators in the plan."""
    li = catalog.load(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    o = catalog.load(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "li_b", "l_orderkey", n_buckets=4, sort_col="l_orderkey")
    write_bucketed(o, "o_b", "o_orderkey", n_buckets=4, sort_col="o_orderkey")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        joined = spark.table("li_b").join(
            spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles:\n" + plan
        # and it's correct
        assert joined.count() == 6000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_salted_agg_matches_direct(spark):
    ev = catalog.load(spark, SF_SMALL, "events")
    direct = {
        (r.user_id, r.event_type): (r.n, r.mx)
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.count("value").alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    salted = {
        (r.user_id, r.event_type): (r.n, r.mx)
        for r in salted_agg(
            ev,
            keys=("user_id", "event_type"),
            aggs={"n": ("value", "count"), "mx": ("value", "max")},
            n_salts=8,
        ).collect()
    }
    assert salted == direct


def test_salted_agg_rejects_non_algebraic(spark):
    ev = catalog.load(spark, SF_SMALL, "events")
    with pytest.raises(ValueError, match="salted_agg supports"):
        salted_agg(ev, keys=("user_id",), aggs={"a": ("value", "avg")})


def test_salted_join_equals_plain_join(spark):
    """salted_join on a hot-keyed fact (one key = 50% of rows) must be
    row-identical to the plain join, for inner and left."""
    from postgre_to_clickhouse_spark.operators.skew import salted_join

    big = spark.range(2000).select(
        F.when(F.col("id") < 1000, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(40).select(F.col("id").alias("k"), (F.col("id") * 10).alias("dim"))
    for how in ("inner", "left"):
        plain = sorted(map(tuple, big.join(small, ["k"], how).collect()))
        salted = sorted(map(tuple, salted_join(big, small, ["k"], n_salts=8, how=how).collect()))
        assert salted == plain, how
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, ["k"], how="full")
