"""Driver-side construction-cost regression gate (r17, VERDICT r16 #7).

The r16 batch-5 audit found SECONDS of per-run driver cost hiding in
DataFrame CONSTRUCTION: wide-but-regular expression families built one
py4j Column call at a time (~0.3-1 ms per java round-trip) — simhash's
64 per-bit aggregates were ~700 calls (1.6-2.9 s per build), the
unrolled cosine ~4·dim calls per use, the random-projection fold one
list conversion per output dim. All were rewritten as SQL expression
STRINGS (one parser round each, bit-identical plans — proven by
byte-identical before/after explain files in plans/r16/).

This gate keeps the pattern from silently returning: it counts the
py4j JAVA ROUND-TRIPS each known-wide build issues (deterministic —
machine load cannot flake it) and bounds them well below the
one-call-per-term pattern, plus a very generous wall-clock ceiling as
a safety net for pathologies the call count cannot see (e.g. a huge
literal converted element-by-element inside ONE call).

It also gates the schema-inference job ``catalog.load`` used to pay on
every call: a warm load, and a warm build of a CH-dialect statement,
must submit ZERO Spark jobs (counted per job group through
``sc.statusTracker()``), and the statement must load only the tables
it names. Both are exact counts.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

# Generous ceilings. Observed counts on Spark 4.1 are recorded next to
# each bound; the regression this guards (one py4j call per expression
# TERM: ~700 calls for simhash, ~4·dim for the cosine) sits 3-10x
# above every bound, while normal drift (a few extra calls per build
# from a Spark upgrade) stays far inside it.
WALL_CEILING_S = 5.0  # pre-fix builds measured 1.6-2.9 s; normal ~0.05


@contextmanager
def _java_calls():
    """Count py4j java-member round-trips issued inside the block."""
    import py4j.java_gateway as _jg

    box = {"n": 0}
    orig = _jg.JavaMember.__call__

    def counted(self, *a, **k):
        box["n"] += 1
        return orig(self, *a, **k)

    _jg.JavaMember.__call__ = counted
    try:
        yield box
    finally:
        _jg.JavaMember.__call__ = orig


@contextmanager
def _spark_jobs(spark):
    """Count the Spark jobs submitted inside the block (its own job
    group, read back through the status tracker)."""
    sc = spark.sparkContext
    group = f"construction-cost-{uuid.uuid4().hex}"
    box = {}
    sc.setJobGroup(group, "construction-cost gate")
    try:
        yield box
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        box["n"] = len(sc.statusTracker().getJobIdsForGroup(group))


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _gate(build, max_calls: int):
    t0 = time.perf_counter()
    with _java_calls() as calls:
        df = build()
        df.schema  # force analysis — part of every real build
    wall = time.perf_counter() - t0
    assert calls["n"] <= max_calls, (
        f"driver construction issued {calls['n']} py4j calls "
        f"(bound {max_calls}) — the one-call-per-term pattern is back; "
        "build wide expression families as SQL expr strings "
        "(see OPTIMIZATION_r16.md batch 5)"
    )
    assert wall <= WALL_CEILING_S, (
        f"driver construction took {wall:.2f}s (bound {WALL_CEILING_S}s)"
    )


@pytest.mark.usefixtures("spark")
class TestConstructionCost:
    def test_simhash_build(self, spark):
        from postgre_to_clickhouse_spark.operators.dedup import simhash

        _docs(spark)  # warm the reader outside the counter
        _gate(lambda: simhash(_docs(spark)), max_calls=300)

    def test_minhash_build(self, spark):
        from postgre_to_clickhouse_spark.operators.dedup import (
            minhash_signatures,
        )

        _gate(lambda: minhash_signatures(_docs(spark)), max_calls=300)

    def test_random_projection_build(self, spark):
        from postgre_to_clickhouse_spark.operators.projection import (
            project_expr,
        )

        _gate(
            lambda: _embs(spark).select(
                "vec_id",
                project_expr("embedding", 16, 64).alias("proj"),
            ),
            max_calls=150,
        )

    def test_unrolled_cosine_build(self, spark):
        from postgre_to_clickhouse_spark.operators.similarity import (
            _dot_unrolled,
            _norm_unrolled,
        )

        def build():
            e = _embs(spark).select(
                F.col("embedding").alias("a"), F.col("embedding").alias("b")
            )
            return e.select(
                (
                    _dot_unrolled("a", "b", 64)
                    / (_norm_unrolled("a", 64) * _norm_unrolled("b", 64))
                ).alias("cos")
            )

        _gate(build, max_calls=200)

    def test_warm_load_submits_no_job(self, spark):
        from postgre_to_clickhouse_spark import catalog

        catalog.load(spark, SF, "events")
        with _spark_jobs(spark) as jobs:
            catalog.load(spark, SF, "events")
        assert jobs["n"] == 0, (
            f"a warm catalog.load submitted {jobs['n']} Spark jobs; the "
            "schema lookup is inferring again"
        )

    def test_ch_dialect_build_loads_only_named_tables(self, spark, monkeypatch):
        from postgre_to_clickhouse_spark import catalog
        from postgre_to_clickhouse_spark.queries.ch_dialect import (
            ch_dialect_hourly,
        )

        ch_dialect_hourly(spark, SF)  # warm the schema lookup
        loaded = []
        real_load = catalog.load

        def counting_load(spark_, sf_dir, name):
            loaded.append(name)
            return real_load(spark_, sf_dir, name)

        monkeypatch.setattr(catalog, "load", counting_load)
        with _spark_jobs(spark) as jobs:
            ch_dialect_hourly(spark, SF).schema
        assert loaded == ["events"]
        assert jobs["n"] == 0, (
            f"a warm ch_dialect_hourly build submitted {jobs['n']} Spark jobs"
        )
