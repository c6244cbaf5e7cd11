"""r12 (VERDICT r11 #3): quantile + topK -State/-Merge combinators —
the last two CH-idiomatic mergeable aggregates in dialect text.

Covers: split-batch merge == direct computation (the mergeable-state
contract), the SpaceSaving conservative-merge invariants beyond
capacity (upper bound ≥ true count; heavy hitters present), the
AggregateFunction(quantile/topK) type-map round-trip through SHOW
CREATE TABLE, the OPTIMIZE FINAL state fold staying inside the state
algebra, and plain topK(k)(x) exactness.

Reference surface: ClickHouse 24.3 AggregatingMergeTree MVs
(reference README.md:212-230, docker-compose.yml:157)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgre_to_clickhouse_spark.ch_ddl import ChDdlCatalog
from postgre_to_clickhouse_spark.ch_select import (
    ChContext,
    ChSqlError,
    _q_merge_sql,
    _q_state_sql,
    _topk_fold_sql,
    _topk_merge_sql,
    _topk_state_sql,
    ch_select,
)
from tests.conftest import SF_ORACLE


@pytest.fixture()
def ctx(spark):
    return ChContext.from_sf_dir(spark, SF_ORACLE)


def _exact_quantile(vals, q):
    vals = sorted(vals)
    w = len(vals)
    cum = 0
    for v in vals:
        cum += 1
        if cum >= q * w:
            return v


def test_quantile_state_merge_equals_direct(spark):
    """Split the input any way, merge the partial states — the answer
    is the direct exact quantile, bit-identical (every output is a RAW
    input value)."""
    import random

    rng = random.Random(7)
    rows = [(i % 4, rng.uniform(-100, 100)) for i in range(400)]
    df = spark.createDataFrame(rows, "g int, x double")
    parts = [
        df.filter(f"pmod(cast(x * 1000 as bigint), 3) = {i}")
        .groupBy("g").agg(F.expr(_q_state_sql("x")).alias("s"))
        for i in range(3)
    ]
    states = parts[0].unionByName(parts[1]).unionByName(parts[2])
    got = {
        r["g"]: (r["p50"], r["p99"])
        for r in states.groupBy("g").agg(
            F.expr(_q_merge_sql("s", "0.5")).alias("p50"),
            F.expr(_q_merge_sql("s", "0.99")).alias("p99"),
        ).collect()
    }
    by_g: dict[int, list[float]] = {}
    for g, x in rows:
        by_g.setdefault(g, []).append(x)
    for g, vals in by_g.items():
        assert got[g] == (_exact_quantile(vals, 0.5),
                          _exact_quantile(vals, 0.99))


def test_quantile_merge_empty_state_is_null(spark):
    df = spark.createDataFrame([(1, None)], "g int, x double")
    s = df.groupBy("g").agg(F.expr(_q_state_sql("x")).alias("s"))
    out = s.groupBy("g").agg(F.expr(_q_merge_sql("s", "0.5")).alias("p"))
    assert out.collect()[0]["p"] is None


def test_topk_conservative_merge_invariants(spark):
    """Beyond capacity the merge is the conservative SpaceSaving
    composition: every kept item's ub ≥ its true count, and any item
    whose true count exceeds the merged error floor is PRESENT — the
    heavy-hitter guarantee of SpaceSaving summaries."""
    # 1 group, 12 distinct items, capacity 4 — capping definitely fires
    rows = []
    freq = {f"i{j:02d}": 40 - 3 * j for j in range(12)}
    seq = 0
    for it, n in freq.items():
        for _ in range(n):
            rows.append((seq % 5, it))
            seq += 1
    df = spark.createDataFrame(rows, "b int, it string")
    states = df.groupBy("b").agg(
        F.expr(_topk_state_sql("it", 4)).alias("s")
    ).withColumn("g", F.lit(1))
    merged = states.groupBy("g").agg(
        F.expr(
            _topk_merge_sql("s", 4).replace(
                "transform(slice(hs, 1, 4), e -> e.item)",
                "named_struct('items', transform(slice(hs, 1, 4), "
                "e -> named_struct('item', e.item, 'ub', e.ub)), "
                "'floor', t.dd)",
            )
        ).alias("m")
    ).collect()[0]["m"]
    kept = {e["item"]: e["ub"] for e in merged["items"]}
    floor = merged["floor"]
    for it, ub in kept.items():
        assert ub >= freq[it], f"{it}: ub {ub} < true {freq[it]}"
    for it, n in freq.items():
        if n > floor:
            assert it in kept or n <= max(freq[k] for k in kept), (
                f"heavy item {it} (true {n} > floor {floor}) missing"
            )
    # the true top-1 must always survive
    assert "i00" in kept


def test_topk_exact_regime_matches_truth(spark):
    """distinct ≤ capacity in every partial state → d = 0 everywhere
    and the merged top-k is exact."""
    rows = [(i % 2, f"u{i % 5}") for i in range(100)] + [(0, "u1")] * 7
    df = spark.createDataFrame(rows, "b int, it string")
    states = df.groupBy("b").agg(
        F.expr(_topk_state_sql("it", 8)).alias("s")
    ).withColumn("g", F.lit(1))
    out = states.groupBy("g").agg(
        F.expr(_topk_merge_sql("s", 2)).alias("top2")
    ).collect()[0]["top2"]
    from collections import Counter

    c = Counter(it for _, it in rows)
    want = [k for k, _ in sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:2]]
    assert out == want


def test_dialect_quantile_topk_over_events(spark, ctx):
    """The combinators compile inside verbatim CH text, states split
    by an arbitrary predicate merge to the direct answer."""
    direct = ch_select(
        spark,
        "SELECT event_type, quantile(0.9)(value) AS p90 FROM events "
        "GROUP BY event_type",
        ctx,
    )
    via_states = ch_select(
        spark,
        "SELECT event_type, quantileMerge(0.9)(s) AS p90 FROM ("
        "  SELECT event_type, user_id % 3 AS b, quantileState(value) AS s"
        "  FROM events GROUP BY event_type, b"
        ") GROUP BY event_type",
        ctx,
    )
    d = {r["event_type"]: r["p90"] for r in direct.collect()}
    v = {r["event_type"]: r["p90"] for r in via_states.collect()}
    # percentile() interpolates; the exact-weighted rule picks a raw
    # value — they agree only on the pick SET's bounds, so compare the
    # state path against the exact rule instead
    rows = ch_select(
        spark, "SELECT event_type, value FROM events", ctx).collect()
    by_t: dict[str, list[float]] = {}
    for r in rows:
        by_t.setdefault(r["event_type"], []).append(r["value"])
    for t, vals in by_t.items():
        assert v[t] == _exact_quantile(vals, 0.9)
    assert set(d) == set(v)  # same groups either way


def test_plain_topk_is_exact(spark, ctx):
    got = {
        r["event_type"]: r["top3"]
        for r in ch_select(
            spark,
            "SELECT event_type, topK(3)(user_id % 7) AS top3 "
            "FROM events GROUP BY event_type",
            ctx,
        ).collect()
    }
    from collections import Counter

    rows = ch_select(
        spark, "SELECT event_type, user_id % 7 AS m FROM events", ctx
    ).collect()
    cnt: dict[str, Counter] = {}
    for r in rows:
        cnt.setdefault(r["event_type"], Counter())[str(r["m"])] += 1
    for t, c in cnt.items():
        want = [k for k, _ in
                sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:3]]
        assert got[t] == want


def test_ddl_type_map_round_trips(spark, tmp_path):
    cat = ChDdlCatalog(storage_root=str(tmp_path))
    cat.execute(
        "CREATE TABLE t (k String, "
        "q AggregateFunction(quantile, Float64), "
        "tk AggregateFunction(topK(7), String)) "
        "ENGINE = AggregatingMergeTree ORDER BY (k)"
    )
    sc = cat.execute("SHOW CREATE TABLE t", spark=spark)
    text = sc.collect()[0][0]
    assert "AggregateFunction(quantile, Float64)" in text
    assert "AggregateFunction(topK(7), String)" in text
    # the rendered DDL parses back to the same schema + state fns
    cat2 = ChDdlCatalog()
    cat2.execute(text.replace("CREATE TABLE t", "CREATE TABLE t2"))
    assert cat2.tables["t2"].schema == cat.tables["t"].schema
    assert cat2.tables["t2"].agg_fns == {"q": "quantile", "tk": "topk(7)"}


def test_optimize_final_folds_quantile_topk_states(spark, tmp_path):
    """The fold stays inside the state algebra: after OPTIMIZE FINAL
    there is ONE state row per key and the -Merge read is unchanged."""
    cat = ChDdlCatalog(storage_root=str(tmp_path))
    cat.execute(
        "CREATE TABLE s (k String, "
        "q AggregateFunction(quantile, Float64), "
        "tk AggregateFunction(topK(9), String)) "
        "ENGINE = AggregatingMergeTree ORDER BY (k);"
        "CREATE MATERIALIZED VIEW mv TO s AS "
        "SELECT event_type AS k, quantileState(value) AS q, "
        "topKState(9)(user_id % 5) AS tk FROM src "
        "GROUP BY event_type;"
    )
    from postgre_to_clickhouse_spark import catalog as _cat

    ev = _cat.load(spark, SF_ORACLE, "events")
    for i, pred in enumerate(("event_id % 2 = 0", "event_id % 2 = 1")):
        cat.insert(spark, "s",
                   cat.apply_mv(spark, "mv", {"src": ev.filter(pred)}),
                   batch_id=i)
    read = ("SELECT k, quantileMerge(0.5)(q) AS p50, "
            "arrayStringConcat(topKMerge(2)(tk), ',') AS t2 "
            "FROM s GROUP BY k")
    before = sorted(map(tuple, cat.query(spark, read).collect()))
    cat.execute("OPTIMIZE TABLE s FINAL", spark=spark)
    n_state_rows = cat.query(spark, "SELECT k FROM s").count()
    assert n_state_rows == len(before)  # one folded row per key
    after = sorted(map(tuple, cat.query(spark, read).collect()))
    assert after == before


def test_topk_state_table_exact_regime_and_truncated_bounds(spark, tmp_path):
    """topK states through a catalog AggregatingMergeTree and its
    OPTIMIZE FINAL fold: with capacity >= per-batch distincts
    (topK(64)) the folded state's ranked items are the true counts
    and every floor is 0; with capacity 4 the SpaceSaving invariants
    hold on the folded state — true count <= ub for every kept item,
    a floor > 0, and the unambiguous heavy hitter (true count > floor)
    is PRESENT."""
    from collections import Counter

    rows = [("g", f"i{(x * x) % 23}") for x in range(600)]
    rows += [("g", "i1")] * 250  # one unambiguous heavy hitter
    df = spark.createDataFrame(rows, "grp string, item string")
    true = Counter(i for _, i in rows)

    def folded(k):
        cat = ChDdlCatalog(storage_root=str(tmp_path / f"k{k}"))
        cat.execute(
            f"CREATE TABLE s (grp String, t AggregateFunction(topK({k}), String)) "
            "ENGINE = AggregatingMergeTree ORDER BY (grp);"
            "CREATE MATERIALIZED VIEW mv TO s AS "
            f"SELECT grp, topKState({k})(item) AS t FROM src GROUP BY grp;"
        )
        for b in range(3):
            batch = df.filter(F.length("item") % 3 == b)
            cat.insert(spark, "s", cat.apply_mv(spark, "mv", {"src": batch}),
                       batch_id=b, app_id="mv")
        v = cat.storage_for("s").current_version()
        cat.insert(spark, "s", cat.apply_mv(spark, "mv", {"src": df}),
                   batch_id=0, app_id="mv")  # a replay commits nothing
        assert cat.storage_for("s").current_version() == v
        cat.execute("OPTIMIZE TABLE s FINAL", spark=spark)
        (state,) = cat.query(spark, "SELECT t FROM s").collect()
        return [(e["item"], e["ub"]) for e in state["t"]["tk"]], state["t"]["d"]

    kept, floor = folded(64)
    want = sorted(true.items(), key=lambda kv: (-kv[1], kv[0]))
    assert floor == 0 and kept == want

    kept, floor = folded(4)
    assert len(kept) == 4
    for item, ub in kept:
        assert true[item] <= ub, (item, true[item], ub)
    assert floor > 0  # truncation really happened
    heaviest = max(true.items(), key=lambda kv: (kv[1], kv[0]))[0]
    assert true[heaviest] > floor and heaviest in dict(kept), (floor, kept)


def test_param_validation_refuses_loudly(spark, ctx):
    with pytest.raises(ChSqlError, match="positive integer"):
        ch_select(spark, "SELECT topKState(x)(value) FROM events", ctx)
    with pytest.raises(ChSqlError, match="quantile level"):
        ch_select(spark, "SELECT quantileMerge(2)(value) FROM events", ctx)
    with pytest.raises(ChSqlError, match="exactly one"):
        ch_select(spark, "SELECT quantileState(value, 2) FROM events", ctx)


def test_quantile_topk_mv_streaming_loop(spark, tmp_path):
    """A12/A24 for the r12 states: the -State MV ingests a STREAM via
    foreachBatch (one part per micro-batch, no cross-part dedup) and
    the -Merge read equals recomputing from all raw rows — the
    batch≡stream contract the other state families already hold."""
    import glob
    import os

    rows = [(i, f"t{i % 2}", float((i * 7) % 23), f"u{i % 5}")
            for i in range(60)]
    src = spark.createDataFrame(
        rows, "event_id long, event_type string, value double, uid string")
    srcdir = os.path.join(str(tmp_path), "src")
    # 3 parquet files -> maxFilesPerTrigger=1 gives 3 micro-batches
    src.repartition(3).write.parquet(srcdir)
    assert len(glob.glob(os.path.join(srcdir, "part-*"))) >= 2

    cat = ChDdlCatalog(storage_root=os.path.join(str(tmp_path), "store"))
    cat.execute(
        "CREATE TABLE qs (event_type String, "
        "q AggregateFunction(quantile, Float64), "
        "tk AggregateFunction(topK(9), String)) "
        "ENGINE = AggregatingMergeTree ORDER BY (event_type);"
        "CREATE MATERIALIZED VIEW mv_qs TO qs AS "
        "SELECT event_type, quantileState(value) AS q, "
        "topKState(9)(uid) AS tk FROM src GROUP BY event_type;"
    )
    stream = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcdir)
    )

    def _ingest(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        # foreachBatch hands the callback a SESSION CLONE — compile
        # and ingest on that session so the MV's temp views resolve
        s = batch_df.sparkSession
        cat.insert(s, "qs",
                   cat.apply_mv(s, "mv_qs", {"src": batch_df}),
                   batch_id=batch_id)

    q = (stream.writeStream.foreachBatch(_ingest)
         .trigger(availableNow=True)
         .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
         .start())
    q.awaitTermination(180)

    # states accumulated across >= 2 micro-batch parts
    n_parts = cat.query(
        spark, "SELECT count() AS c FROM qs").collect()[0]["c"]
    assert n_parts > 2  # 2 keys x >= 2 batches

    got = {
        r["event_type"]: (r["p50"], r["top2"])
        for r in cat.query(
            spark,
            "SELECT event_type, quantileMerge(0.5)(q) AS p50, "
            "arrayStringConcat(topKMerge(2)(tk), ',') AS top2 "
            "FROM qs GROUP BY event_type",
        ).collect()
    }
    from collections import Counter

    by_t, items = {}, {}
    for _i, t, v, u in rows:
        by_t.setdefault(t, []).append(v)
        items.setdefault(t, Counter())[u] += 1
    for t in by_t:
        want_p50 = _exact_quantile(by_t[t], 0.5)
        want_top2 = ",".join(
            k for k, _ in sorted(
                items[t].items(), key=lambda kv: (-kv[1], kv[0]))[:2])
        assert got[t] == (want_p50, want_top2), (t, got[t])
