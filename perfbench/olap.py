"""olap_battery: one client runs a fixed, named list of registered
queries in passes, in a seeded order per pass. Each operation is the
graded path, ``fn(spark, sf_dir)`` then ``count()``, and its count must
equal the query's DuckDB oracle row count, computed during set-up.

The first passes warm the JIT and the codegen caches and are not
timed; their wall times are the warm-up curve in the record. The
timed window is a fixed whole number of passes, so every window holds
the same queries whatever the seed.
"""

from __future__ import annotations

import threading
import time

from perfbench import gen

# name -> family. The families are the per-family build/exec totals of
# the traced run.
BATTERY = {
    "q1_pricing_summary": "tpch",
    "q6_forecast_revenue": "tpch",
    "agg_events_stats": "events",
    "funnel_view_click_purchase": "events",
    "ch_dialect_hourly": "ch_dialect",
    "text_quality_stats": "text_vector",
    "vector_cosine_topk": "text_vector",
}
FAMILIES = sorted(set(BATTERY.values()))
WARM_PASSES = 4


def oracle_counts(names: list[str], sf_dir: str) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over the same tables."""
    import duckdb

    from postgre_to_clickhouse_spark import catalog
    from postgre_to_clickhouse_spark.queries import ORACLES

    con = duckdb.connect()
    con.execute("SET threads = 1")  # beside the session start
    for t in catalog.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    try:
        return {n: con.execute(f"SELECT count(*) FROM ({ORACLES[n]}) AS q").fetchone()[0]
                for n in names}
    finally:
        con.close()


def run(r, result) -> None:
    from postgre_to_clickhouse_spark.catalog import DEFAULT_SF_DIR as sf_dir

    result.context["sf_dir"] = sf_dir
    names = list(BATTERY)
    oracle: dict[str, int] = {}
    t = threading.Thread(target=lambda: oracle.update(oracle_counts(names, sf_dir)),
                         name="duckdb-oracle")
    t.start()  # overlaps the session start
    spark = r.start_session()
    result.session_ready()
    from postgre_to_clickhouse_spark.queries import QUERIES

    t.join()
    missing = sorted(set(names) - set(oracle))
    if missing:
        raise RuntimeError(f"no oracle count for {missing}")

    def one_query(name: str, traced: bool) -> int:
        fn = QUERIES[name]
        if not traced:
            return fn(spark, sf_dir).count()
        with result.tracer.span("query.build", query=name, family=BATTERY[name]):
            df = fn(spark, sf_dir)
        with result.tracer.span("query.plan", query=name, family=BATTERY[name]):
            df._jdf.queryExecution().executedPlan()
        with result.tracer.span("query.exec", query=name, family=BATTERY[name]):
            return df.count()

    result.warm_curve, warm_errors = [], []
    for p in range(WARM_PASSES):
        t0 = time.perf_counter()
        for name in gen.pass_order(names, r.seed, p):
            got = one_query(name, False)
            warm_errors += [f"{name}: {got} rows"] if got != oracle[name] else []
        result.warm_curve.append(time.perf_counter() - t0)
    result.check("warm_up_counts_match", not warm_errors, "; ".join(warm_errors))
    # a fixed count (about r.seconds on 4 vCPUs), so a slow host does
    # not also change which operations are sampled
    n_passes = max(2, r.seconds // 4)
    result.begin_window()
    for p in range(WARM_PASSES, WARM_PASSES + n_passes):
        for name in gen.pass_order(names, r.seed, p):
            with result.op(name, p) as op:
                got = one_query(name, result.tracer is not None)
                op.ok = got == oracle[name]
                if not op.ok:
                    op.error = f"{name}: {got} rows, oracle {oracle[name]}"
    result.end_window()
    result.context["timed_passes"] = n_passes
