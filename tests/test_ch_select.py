"""ClickHouse SELECT-dialect front end (`ch_select.py`): clause
compilation, function mapping, and the refuse-loudly boundary."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgre_to_clickhouse_spark import catalog
from postgre_to_clickhouse_spark.ch_select import (
    ChContext,
    ChSqlError,
    ch_select,
)
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def ctx(spark):
    return ChContext.from_sf_dir(spark, SF_ORACLE)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_function_mapping_matches_native_sql(spark, ctx):
    """CH names compile to the exact Spark builtins: value-identical to
    the hand-written Spark SQL."""
    got = ch_select(
        spark,
        """
        SELECT toStartOfDay(ts) AS d,
               countIf(event_type = 'view') AS views,
               uniqExact(user_id) AS users,
               argMax(event_type, value) AS top_type,
               round(quantile(0.5)(value), 6) AS med
        FROM events
        WHERE toHour(ts) >= 12
        GROUP BY d
        """,
        ctx,
    )
    ev = catalog.load(spark, SF_ORACLE, "events")
    ev.createOrReplaceTempView("__ev_native")
    want = spark.sql(
        """
        SELECT date_trunc('DAY', ts) AS d,
               count(CASE WHEN event_type = 'view' THEN 1 END) AS views,
               count(DISTINCT user_id) AS users,
               max_by(event_type, value) AS top_type,
               round(percentile(value, 0.5), 6) AS med
        FROM __ev_native WHERE hour(ts) >= 12 GROUP BY d
        """
    )
    assert _rows(got) == _rows(want) and got.count() > 0


def test_with_totals_adds_one_global_row(spark, ctx):
    out = ch_select(
        spark,
        "SELECT o_orderstatus, count() AS n FROM orders "
        "GROUP BY o_orderstatus WITH TOTALS",
        ctx,
    ).collect()
    totals = [r for r in out if r["o_orderstatus"] is None]
    groups = [r for r in out if r["o_orderstatus"] is not None]
    assert len(totals) == 1
    assert totals[0]["n"] == sum(r["n"] for r in groups)


def test_limit_by_caps_rows_per_key_and_orders(spark, ctx):
    out = ch_select(
        spark,
        "SELECT user_id, event_id, value FROM events "
        "PREWHERE value IS NOT NULL "
        "ORDER BY value DESC, event_id LIMIT 2 BY user_id",
        ctx,
    ).collect()
    per_key: dict = {}
    for r in out:
        per_key.setdefault(r["user_id"], []).append(r)
    assert per_key and all(len(v) <= 2 for v in per_key.values())
    # each user's kept rows are their top-2 by (value DESC, event_id)
    ev = catalog.load(spark, SF_ORACLE, "events").where("value IS NOT NULL")
    for uid, rows in list(per_key.items())[:5]:
        top = (
            ev.where(F.col("user_id") == uid)
            .orderBy(F.col("value").desc(), "event_id")
            .limit(2)
            .collect()
        )
        assert {r["event_id"] for r in rows} == {r["event_id"] for r in top}


def test_limit_by_orders_and_groups_on_unselected_columns(spark):
    """CH lets ORDER BY and BY name columns the SELECT list drops:
    the latest row per key by a column that is not returned."""
    t = spark.createDataFrame(
        [(1, "a", 7, "x"), (1, "b", 9, "x"), (2, "c", 3, "y"), (2, "d", 1, "y")],
        "k long, name string, off long, grp string")
    ctx = ChContext({"t": t})
    got = ch_select(spark, "SELECT k, name FROM t ORDER BY k, off DESC LIMIT 1 BY k", ctx)
    assert got.columns == ["k", "name"]
    assert [tuple(r) for r in got.collect()] == [(1, "b"), (2, "c")]
    by_hidden = ch_select(spark, "SELECT name FROM t ORDER BY off LIMIT 1 BY grp", ctx)
    assert [r.name for r in by_hidden.collect()] == ["d", "a"]


def test_sample_equals_operator(spark, ctx):
    from postgre_to_clickhouse_spark.operators.sampling import sample_consistent

    got = ch_select(
        spark,
        "SELECT user_id, event_id FROM events SAMPLE 0.4 OFFSET 0.1",
        ctx,
    )
    ev = catalog.load(spark, SF_ORACLE, "events")
    want = sample_consistent(ev, 0.4, "user_id", offset=0.1).select(
        "user_id", "event_id"
    )
    assert _rows(got) == _rows(want) and got.count() > 0


def test_final_uses_latest_wins(spark, ctx):
    from postgre_to_clickhouse_spark.cdc import latest

    ev = catalog.load(spark, SF_ORACLE, "events")
    ctx2 = ChContext(
        {"events": ev},
        final_specs={"events": (("user_id",), ("ts", "event_id"))},
    )
    got = ch_select(
        spark, "SELECT user_id, event_id FROM events FINAL", ctx2
    )
    want = latest(ev, ("user_id",), ("ts", "event_id")).select(
        "user_id", "event_id"
    )
    assert _rows(got) == _rows(want)
    # one row per user
    assert got.count() == ev.select("user_id").distinct().count()


def test_multi_if_and_combinator_rollup(spark, ctx):
    out = ch_select(
        spark,
        "SELECT multiIf(value >= 100, 'hi', value >= 10, 'mid', 'lo') AS b, "
        "sumIf(1, value >= 0) AS nonneg, count() AS n "
        "FROM events WHERE value IS NOT NULL GROUP BY b",
        ctx,
    ).collect()
    assert {r["b"] for r in out} <= {"hi", "mid", "lo"}
    assert all(r["nonneg"] == r["n"] for r in out)  # values are >= 0 here


def test_array_join_explodes(spark, ctx):
    out = ch_select(
        spark,
        "SELECT vec_id, arrayJoin(arraySlice(embedding, 1, 2)) AS x "
        "FROM embeddings ORDER BY vec_id LIMIT 6",
        ctx,
    ).collect()
    assert len(out) == 6
    assert out[0]["vec_id"] == out[1]["vec_id"]  # 2 rows per vec


@pytest.mark.parametrize(
    "bad, frag",
    [
        ("SELECT 1 FROM events UNION SELECT 1 FROM orders", "bare UNION"),
        # ANY RIGHT joined the subset in r12, ANY FULL in r16 — the
        # boundary is now non-column ON terms and the legacy-off pin
        ("SELECT 1 FROM events ANY RIGHT JOIN orders ON 1=1", "plain columns"),
        ("SELECT 1 FROM events ANY FULL JOIN orders USING (o_custkey) "
         "SETTINGS any_join_distinct_right_table_keys = 0",
         "drop the pin"),
        ("SELECT 1 FROM events PASTE JOIN orders", "PASTE"),
        ("SELECT 1 FROM events ANY LEFT JOIN orders ON 1=1", "plain columns"),
        ("SELECT 1 FROM events ASOF JOIN orders ON 1=1", "one equality and one inequality"),
        (
            "SELECT 1 FROM events AS e ASOF JOIN orders AS o "
            "ON e.user_id = o.o_custkey",
            "one equality and one inequality",
        ),
        (
            "SELECT 1 FROM events AS e ASOF RIGHT JOIN orders AS o "
            "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate",
            "only with LEFT",
        ),
        (
            "SELECT 1 FROM events AS e ASOF JOIN orders AS o "
            "ON e.ts >= o.o_orderdate AND e.value >= o.o_totalprice",
            "one equality and one inequality",
        ),
        (
            "SELECT 1 FROM events AS e ASOF JOIN orders AS o "
            "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate "
            "INNER JOIN nation AS n ON 1 = 1",
            "only join",
        ),
        ("SELECT 1 FROM events LEFT JOIN orders", "ON or USING"),
        ("SELECT 1 FROM events CROSS JOIN orders ON 1=1", "no ON"),
        ("SELECT 1 FROM events RIGHT SEMI JOIN orders ON 1=1", "join type"),
        # r13: multi-key WITH FILL is in the subset WITH explicit
        # FROM/TO on every key; the default-bounds form still refuses
        ("SELECT 1 AS a, 2 AS n FROM events ORDER BY a WITH FILL, n WITH FILL",
         "explicit integer FROM and TO"),
        ("SELECT user_id, event_id AS n FROM events ORDER BY user_id DESC, n WITH FILL", "plain ascending"),
        ("SELECT value FROM events ORDER BY value WITH FILL", "integer sort key"),
        (
            "SELECT user_id FROM events ORDER BY user_id DESC WITH FILL",
            "ascending",
        ),
        (
            "SELECT user_id FROM events ORDER BY user_id "
            "WITH FILL FROM 5 TO 2",
            "empty",
        ),
        (
            "SELECT user_id FROM events ORDER BY user_id "
            "WITH FILL INTERPOLATE (value)",
            "INTERPOLATE",
        ),
        ("SELECT histogram(5)(value) FROM events", "parameterized"),
        ("SELECT sumSimpleState(value) FROM events", "State"),
        ("SELECT topKMerge(value) FROM events", "Merge"),
        ("SELECT topKState(0)(value) FROM events", "positive integer"),
        ("SELECT quantileMerge(1.5)(value) FROM events", "quantile level"),
        ("SELECT value FROM events LIMIT 2 BY user_id", "ORDER BY"),
        ("SELECT 1 FROM (SELECT 1)", "FROM is required"),
        ("SELECT 1 FROM nosuch", "unknown table"),
        ("SELECT 1 FROM orders SAMPLE 0.5", "sample key"),
        ("SELECT 1 FROM events FINAL", "FINAL"),
        ("SELECT 1 FROM events SAMPLE 5", "fraction"),
        ("DELETE FROM events", "SELECT"),
        ("SELECT multiIf(1, 2) FROM events", "multiIf"),
        ("SELECT splitByChar('ab', 'x') FROM events", "1-char"),
    ],
)
def test_refuses_loudly(spark, ctx, bad, frag):
    with pytest.raises(ChSqlError, match=frag.replace("(", "\\(")):
        ch_select(spark, bad, ctx)


def test_cte_chain_and_scalar_alias(spark, ctx):
    """CH WITH prologue: a CTE feeding a second CTE feeding the main
    query, plus a scalar alias substituted into expressions."""
    out = ch_select(
        spark,
        """
        WITH 100 AS cutoff,
        busy AS (
          SELECT user_id, count() AS n FROM events
          GROUP BY user_id HAVING count() >= 10
        ),
        big AS (
          SELECT user_id, n FROM busy WHERE n >= 20
        )
        SELECT count() AS n_big, max(n) AS max_n, min(cutoff) AS c
        FROM big
        """,
        ctx,
    ).collect()
    ev = catalog.load(spark, SF_ORACLE, "events")
    counts = ev.groupBy("user_id").count().where("count >= 20")
    assert out[0]["n_big"] == counts.count()
    assert out[0]["c"] == 100
    if out[0]["n_big"]:
        assert out[0]["max_n"] == counts.agg(F.max("count")).collect()[0][0]


def test_cte_keeps_sample_key_of_base_tables(spark, ctx):
    """The WITH-extended context still resolves base-table metadata."""
    out = ch_select(
        spark,
        """
        WITH sampled AS (
          SELECT user_id FROM events SAMPLE 0.5
        )
        SELECT uniqExact(user_id) AS u FROM sampled
        """,
        ctx,
    ).collect()
    assert 0 < out[0]["u"]


@pytest.fixture
def loads(monkeypatch):
    """Names passed to ``catalog.load`` during the test, in order."""
    names = []
    real_load = catalog.load

    def recording_load(spark_, sf_dir, name):
        names.append(name)
        return real_load(spark_, sf_dir, name)

    monkeypatch.setattr(catalog, "load", recording_load)
    return names


def test_fixture_context_loads_on_first_reference(spark, loads):
    """``from_sf_dir`` loads nothing up front; membership, iteration and
    length answer from the table list; a lookup loads once."""
    lazy = ChContext.from_sf_dir(spark, SF_ORACLE)
    assert "events" in lazy.tables and "nope" not in lazy.tables
    assert list(lazy.tables) == list(catalog.TABLES)
    assert len(lazy.tables) == len(catalog.TABLES)
    assert loads == []
    assert lazy.tables["events"] is lazy.tables["events"]
    assert loads == ["events"]
    with pytest.raises(ChSqlError, match="unknown table"):
        ch_select(spark, "SELECT 1 FROM nope", lazy)


def test_with_statement_loads_only_named_tables(spark, loads):
    """CTEs layer over the lazy context instead of copying it, so a
    WITH statement over events loads only events."""
    lazy = ChContext.from_sf_dir(spark, SF_ORACLE)
    out = ch_select(
        spark,
        """
        WITH busy AS (SELECT user_id, count() AS n FROM events GROUP BY user_id),
        top AS (SELECT user_id FROM busy WHERE n >= 2)
        SELECT count() AS c FROM top
        """,
        lazy,
    )
    assert loads == ["events"]
    assert out.collect()[0]["c"] >= 0


def test_inner_join_on_matches_native(spark, ctx):
    """Verbatim CH join chain (aliases, ON, CH function names in the
    aggregate) equals the hand-written DataFrame join."""
    got = ch_select(
        spark,
        """
        SELECT n.n_name AS nation, count() AS customers,
               round(sum(c.c_acctbal), 2) AS total_bal
        FROM customer AS c
        INNER JOIN nation AS n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY nation
        """,
        ctx,
    )
    cust = catalog.load(spark, SF_ORACLE, "customer")
    nat = catalog.load(spark, SF_ORACLE, "nation")
    want = (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("nation")
    )
    assert _rows(got) == _rows(want) and got.count() > 0


def test_left_join_using_keeps_unmatched(spark, ctx):
    got = ch_select(
        spark,
        """
        WITH purchasers AS (
          SELECT user_id, count() AS purchases FROM events
          WHERE event_type = 'purchase' GROUP BY user_id
        ),
        everyone AS (
          SELECT user_id, count() AS n FROM events GROUP BY user_id
        )
        SELECT e.user_id AS user_id, any(e.n) AS n,
               any(ifNull(p.purchases, 0)) AS purchases
        FROM everyone AS e LEFT JOIN purchasers AS p USING (user_id)
        GROUP BY e.user_id
        """,
        ctx,
    ).collect()
    ev = catalog.load(spark, SF_ORACLE, "events")
    assert len(got) == ev.select("user_id").distinct().count()
    nbuyers = (
        ev.where("event_type = 'purchase'").select("user_id").distinct().count()
    )
    assert sum(1 for r in got if r["purchases"] == 0) == len(got) - nbuyers


def test_semi_and_anti_join_partition(spark, ctx):
    """LEFT SEMI + LEFT ANTI of the same predicate partition the left
    side."""
    cond = "ON c.c_custkey = o.o_custkey AND o.o_totalprice > 400000"
    semi = ch_select(
        spark,
        f"SELECT count() AS n FROM customer AS c LEFT SEMI JOIN orders AS o {cond}",
        ctx,
    ).collect()[0]["n"]
    anti = ch_select(
        spark,
        f"SELECT count() AS n FROM customer AS c LEFT ANTI JOIN orders AS o {cond}",
        ctx,
    ).collect()[0]["n"]
    total = catalog.load(spark, SF_ORACLE, "customer").count()
    assert semi + anti == total and semi > 0 and anti > 0


def test_join_sides_keep_per_table_decorations(spark, ctx):
    """SAMPLE applies to the one side it decorates inside a join."""
    from postgre_to_clickhouse_spark.operators.sampling import sample_consistent

    got = ch_select(
        spark,
        "SELECT count() AS n FROM events SAMPLE 0.4 AS e "
        "CROSS JOIN region AS r",
        ctx,
    ).collect()[0]["n"]
    ev = catalog.load(spark, SF_ORACLE, "events")
    want = sample_consistent(ev, 0.4, "user_id").count() * 5  # 5 regions
    assert got == want


def test_with_fill_dense_grid_and_defaults(spark, ctx):
    """WITH FILL FROM/TO: dense integer grid, filled rows carry type
    defaults (0 for the count — CH column defaults, not NULL), LIMIT
    applies after filling."""
    out = ch_select(
        spark,
        """
        SELECT toHour(ts) AS h, count() AS c, any(toString(toHour(ts))) AS tag
        FROM events WHERE event_type = 'purchase' AND value > 140
        GROUP BY h
        ORDER BY h WITH FILL FROM 0 TO 24
        """,
        ctx,
    ).collect()
    assert [r["h"] for r in out] == list(range(24))
    ev = catalog.load(spark, SF_ORACLE, "events").where(
        "event_type = 'purchase' AND value > 140"
    )
    real = {
        r["h"]: r["c"]
        for r in ev.groupBy(F.hour("ts").alias("h")).count()
        .withColumnRenamed("count", "c").collect()
    }
    for r in out:
        assert r["c"] == real.get(r["h"], 0)
        if r["h"] not in real:
            assert r["tag"] == ""  # string default, not NULL


def test_with_fill_default_bounds_and_step(spark, ctx):
    """Bounds default to the result's min/max; STEP>1 grids fill only
    aligned values; out-of-grid real rows are kept."""
    out = ch_select(
        spark,
        """
        WITH keyed AS (
          SELECT toDayOfMonth(ts) AS d, count() AS c FROM events
          WHERE user_id = 7 GROUP BY d
        )
        SELECT d, c FROM keyed ORDER BY d WITH FILL STEP 2
        """,
        ctx,
    ).collect()
    ds = [r["d"] for r in out]
    assert ds == sorted(ds) and len(ds) == len(set(ds))
    lo, hi = ds[0], ds[-1]
    grid = set(range(lo, hi + 1, 2))
    real = {r["d"] for r in out if r["c"] > 0}
    assert set(ds) == grid | real


def test_asof_join_matches_operator(spark, ctx):
    """ASOF LEFT JOIN through the front end equals a direct
    asof_join call; plain ASOF JOIN is the INNER subset of it."""
    from postgre_to_clickhouse_spark.cdc import latest as latest_op
    from postgre_to_clickhouse_spark.operators.asof import asof_join

    sql_left = """
    SELECT e.event_id AS event_id, e.user_id AS user_id,
           o.o_orderkey AS ok, o.o_totalprice AS price
    FROM ev AS e ASOF LEFT JOIN od AS o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """
    ev = catalog.load(spark, SF_ORACLE, "events").select(
        "event_id", "user_id", "ts"
    )
    o = catalog.load(spark, SF_ORACLE, "orders")
    od = latest_op(
        o, entity_key=("o_custkey", "o_orderdate"), version_cols=("o_orderkey",)
    ).select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    ctx2 = ChContext({"ev": ev, "od": od})
    got = ch_select(spark, sql_left, ctx2)
    want = asof_join(
        ev, od,
        fact_time="ts", dim_time="o_orderdate",
        dim_cols=["o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"],
        on_left="user_id", on_right="o_custkey",
        tiebreak="o_orderkey",
    ).select(
        "event_id", "user_id",
        F.col("o_orderkey_asof").alias("ok"),
        F.col("o_totalprice_asof").alias("price"),
    )
    assert _rows(got) == _rows(want) and got.count() == ev.count()

    inner = ch_select(spark, sql_left.replace("ASOF LEFT", "ASOF"), ctx2)
    assert _rows(inner) == [r for r in _rows(got) if r[2] is not None]

    # a dim subset that cannot match every event: INNER drops, LEFT keeps
    ctx3 = ChContext({"ev": ev, "od": od.where("o_custkey % 2 = 0")})
    inner2 = ch_select(spark, sql_left.replace("ASOF LEFT", "ASOF"), ctx3)
    left2 = ch_select(spark, sql_left, ctx3)
    assert 0 < inner2.count() < left2.count() == ev.count()


def test_asof_join_using_and_forward(spark, ctx):
    """USING (key, time) implies >=; a flipped `right <= left`
    inequality normalizes to the same backward match."""
    ev = catalog.load(spark, SF_ORACLE, "events").select("event_id", "user_id", "ts")
    marks = (
        catalog.load(spark, SF_ORACLE, "events")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts"), F.count(F.lit(1)).alias("n_total"))
    )
    ctx2 = ChContext({"ev": ev, "marks": marks})
    got_using = ch_select(
        spark,
        "SELECT count() AS n FROM ev ASOF JOIN marks USING (user_id, ts)",
        ctx2,
    ).collect()[0]["n"]
    # every event is at-or-after its user's first event -> all match
    assert got_using == ev.count()
    flipped = ch_select(
        spark,
        "SELECT count() AS n FROM ev AS e ASOF JOIN marks AS m "
        "ON m.user_id = e.user_id AND m.ts <= e.ts",
        ctx2,
    ).collect()[0]["n"]
    assert flipped == got_using
    strict_fwd = ch_select(
        spark,
        "SELECT count() AS n FROM ev AS e ASOF JOIN marks AS m "
        "ON e.user_id = m.user_id AND e.ts < m.ts",
        ctx2,
    ).collect()[0]["n"]
    # strictly-before the user's FIRST event: nothing matches
    assert strict_fwd == 0


def test_totals_row_exempt_from_having(spark, ctx):
    """CH totals_mode=before_having: HAVING filters group rows but the
    totals row survives and aggregates ALL rows."""
    out = ch_select(
        spark,
        "SELECT o_orderstatus, count() AS n FROM orders "
        "GROUP BY o_orderstatus WITH TOTALS HAVING count() > 100",
        ctx,
    ).collect()
    totals = [r for r in out if r["o_orderstatus"] is None]
    groups = [r for r in out if r["o_orderstatus"] is not None]
    assert len(totals) == 1
    assert all(r["n"] > 100 for r in groups)
    assert totals[0]["n"] == catalog.load(spark, SF_ORACLE, "orders").count()


def test_settings_ignored_and_semicolon_tolerated(spark, ctx):
    out = ch_select(
        spark,
        "SELECT count() AS n FROM events SETTINGS max_threads = 4;",
        ctx,
    ).collect()
    assert out[0]["n"] == catalog.load(spark, SF_ORACLE, "events").count()


def test_union_all_and_distinct(spark, ctx):
    """UNION ALL concatenates positionally with arm-1 names; UNION
    DISTINCT dedups; mixed modes fold left-associatively."""
    ua = ch_select(
        spark,
        "SELECT o_orderstatus AS s, count() AS n FROM orders GROUP BY s "
        "UNION ALL "
        "SELECT event_type, count() FROM events GROUP BY event_type",
        ctx,
    )
    a = ch_select(spark, "SELECT o_orderstatus AS s, count() AS n "
                  "FROM orders GROUP BY s", ctx)
    b = ch_select(spark, "SELECT event_type AS s, count() AS n "
                  "FROM events GROUP BY s", ctx)
    assert ua.columns == ["s", "n"]  # names from the FIRST arm
    assert _rows(ua) == sorted(_rows(a) + _rows(b))

    ud = ch_select(
        spark,
        "SELECT o_orderstatus AS s FROM orders UNION DISTINCT "
        "SELECT o_orderstatus FROM orders",
        ctx,
    )
    assert _rows(ud) == _rows(
        ch_select(spark, "SELECT DISTINCT o_orderstatus AS s FROM orders", ctx)
    )

    # left-associative: ALL then DISTINCT dedups everything before it
    md = ch_select(
        spark,
        "SELECT 'x' AS t FROM orders UNION ALL SELECT 'x' FROM orders "
        "UNION DISTINCT SELECT 'y' FROM orders",
        ctx,
    )
    assert _rows(md) == [("x",), ("y",)]


def test_union_per_arm_clauses_and_parens(spark, ctx):
    """Each arm keeps its own WHERE/ORDER/LIMIT (the CH binding), and
    parenthesized arms unwrap."""
    out = ch_select(
        spark,
        "(SELECT o_orderkey AS k FROM orders ORDER BY o_orderkey LIMIT 2) "
        "UNION ALL "
        "(SELECT o_orderkey FROM orders ORDER BY o_orderkey DESC LIMIT 1)",
        ctx,
    )
    ks = sorted(r["k"] for r in out.collect())
    od = catalog.load(spark, SF_ORACLE, "orders")
    lo = [r[0] for r in od.orderBy("o_orderkey").limit(2).collect()]
    hi = od.agg(F.max("o_orderkey")).collect()[0][0]
    assert ks == sorted(lo + [hi])


def test_union_refusals(spark, ctx):
    with pytest.raises(ChSqlError, match="bare UNION"):
        ch_select(spark, "SELECT 1 FROM orders UNION SELECT 1 FROM orders", ctx)
    with pytest.raises(ChSqlError, match="columns"):
        ch_select(
            spark,
            "SELECT o_orderkey FROM orders UNION ALL "
            "SELECT o_orderkey, o_custkey FROM orders",
            ctx,
        )


def test_union_inside_cte(spark, ctx):
    out = ch_select(
        spark,
        "WITH u AS (SELECT user_id FROM events UNION DISTINCT "
        "SELECT o_custkey FROM orders) "
        "SELECT count() AS n FROM u",
        ctx,
    ).collect()[0]["n"]
    ev = catalog.load(spark, SF_ORACLE, "events").select("user_id")
    od = catalog.load(spark, SF_ORACLE, "orders").select("o_custkey")
    assert out == ev.union(od).distinct().count()


def test_from_subquery(spark, ctx):
    """Inline FROM-subqueries compile recursively; aliases and outer
    clauses apply to the derived table."""
    got = ch_select(
        spark,
        "SELECT s.user_id AS user_id, s.n AS n "
        "FROM (SELECT user_id, count() AS n FROM events GROUP BY user_id) AS s "
        "WHERE s.n > 100 ORDER BY n DESC, user_id LIMIT 5",
        ctx,
    )
    ev = catalog.load(spark, SF_ORACLE, "events")
    want = (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        .where("n > 100").orderBy(F.desc("n"), "user_id").limit(5)
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    # subquery joined to a base table
    j = ch_select(
        spark,
        "SELECT count() AS n FROM "
        "(SELECT user_id FROM events WHERE event_type = 'purchase') AS p "
        "INNER JOIN customer AS c ON p.user_id = c.c_custkey",
        ctx,
    ).collect()[0]["n"]
    want_n = (
        ev.where("event_type = 'purchase'").select("user_id")
        .join(catalog.load(spark, SF_ORACLE, "customer"),
              F.col("user_id") == F.col("c_custkey"))
        .count()
    )
    assert j == want_n

    with pytest.raises(ChSqlError, match="base tables"):
        ch_select(spark, "SELECT 1 FROM (SELECT 1 FROM orders) FINAL", ctx)
    with pytest.raises(ChSqlError, match="wrap a SELECT"):
        ch_select(spark, "SELECT 1 FROM (orders)", ctx)


def test_window_functions_pass_through(spark, ctx):
    """Standard OVER windows compile verbatim; CH lagInFrame/leadInFrame
    map to lag/lead when the frame makes them equivalent."""
    got = ch_select(
        spark,
        """
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               lagInFrame(event_id) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_id,
               leadInFrame(event_id) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING
                          AND UNBOUNDED FOLLOWING) AS next_id
        FROM events
        """,
        ctx,
    )
    ev = catalog.load(spark, SF_ORACLE, "events")
    ev.createOrReplaceTempView("__ev_win")
    want = spark.sql(
        """
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id,
               lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_id
        FROM __ev_win
        """
    )
    assert _rows(got) == _rows(want)


def test_window_frame_aggregate_and_ch_names_inside_over(spark, ctx):
    """A framed aggregate passes its frame through, and CH function
    names inside the OVER body get mapped."""
    got = ch_select(
        spark,
        "SELECT event_id, "
        "count() OVER (PARTITION BY toStartOfDay(ts) ORDER BY event_id "
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS c "
        "FROM events",
        ctx,
    )
    ev = catalog.load(spark, SF_ORACLE, "events")
    ev.createOrReplaceTempView("__ev_win2")
    want = spark.sql(
        "SELECT event_id, "
        "count(1) OVER (PARTITION BY date_trunc('DAY', ts) ORDER BY event_id "
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS c "
        "FROM __ev_win2"
    )
    assert _rows(got) == _rows(want)


def test_frame_nav_refusals(spark, ctx):
    with pytest.raises(ChSqlError, match="OVER"):
        ch_select(spark, "SELECT lagInFrame(value) FROM events", ctx)
    # leadInFrame with the default frame returns the default value in
    # CH — not lead() — so it must refuse
    with pytest.raises(ChSqlError, match="no\\s+lag/lead equivalent"):
        ch_select(
            spark,
            "SELECT leadInFrame(value) OVER (PARTITION BY user_id "
            "ORDER BY ts) AS x FROM events",
            ctx,
        )
    with pytest.raises(ChSqlError, match="no\\s+lag/lead equivalent"):
        ch_select(
            spark,
            "SELECT lagInFrame(value) OVER (PARTITION BY user_id ORDER BY ts "
            "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS x FROM events",
            ctx,
        )


def test_predicate_subqueries(spark, ctx):
    """IN (SELECT ...), NOT IN, EXISTS and scalar subqueries resolve
    context tables by name and get CH functions mapped inside."""
    got = ch_select(
        spark,
        "SELECT count() AS n FROM events "
        "WHERE user_id IN (SELECT c_custkey FROM customer "
        "                  WHERE c_acctbal > 5000)",
        ctx,
    ).collect()[0]["n"]
    ev = catalog.load(spark, SF_ORACLE, "events")
    rich = catalog.load(spark, SF_ORACLE, "customer").where("c_acctbal > 5000")
    want = ev.join(rich, ev.user_id == rich.c_custkey, "left_semi").count()
    assert got == want > 0

    scalar = ch_select(
        spark,
        "SELECT count() AS n FROM events "
        "WHERE value > (SELECT avg(value) FROM events)",
        ctx,
    ).collect()[0]["n"]
    avg = ev.agg(F.avg("value")).collect()[0][0]
    assert scalar == ev.where(F.col("value") > avg).count()

    # GLOBAL IN drops (semantics = IN); CH fn mapped inside the subquery
    g = ch_select(
        spark,
        "SELECT count() AS n FROM events WHERE user_id GLOBAL IN "
        "(SELECT user_id FROM events WHERE toHour(ts) = 3)",
        ctx,
    ).collect()[0]["n"]
    at3 = ev.where(F.hour("ts") == 3).select("user_id")
    assert g == ev.join(at3, "user_id", "left_semi").count()


def test_with_fill_interval_and_interpolate(spark, ctx):
    """STEP INTERVAL fills a timestamp key on a calendar grid;
    INTERPOLATE carries the previous real value onto filled rows."""
    out = ch_select(
        spark,
        "SELECT toStartOfHour(ts) AS h, count() AS n, "
        "       max(value) AS peak "
        "FROM events WHERE event_type = 'purchase' AND value > 150 "
        "GROUP BY h "
        "ORDER BY h WITH FILL STEP INTERVAL 1 HOUR INTERPOLATE (peak)",
        ctx,
    ).collect()
    assert len(out) >= 2
    hours = [r["h"] for r in out]
    # dense hourly grid between result min and max
    for a, b in zip(hours, hours[1:]):
        assert (b - a).total_seconds() == 3600
    # filled rows: n = 0 (type default), peak = previous real peak
    prev_peak = None
    for r in out:
        if r["n"] == 0:
            assert prev_peak is None or r["peak"] == prev_peak
        else:
            prev_peak = r["peak"]
    assert any(r["n"] == 0 for r in out)  # the filter is sparse enough


def test_fill_interval_refusals(spark, ctx):
    with pytest.raises(ChSqlError, match="date/timestamp"):
        ch_select(
            spark,
            "SELECT user_id AS u, count() AS n FROM events GROUP BY u "
            "ORDER BY u WITH FILL STEP INTERVAL 1 DAY",
            ctx,
        )
    with pytest.raises(ChSqlError, match="default bounds"):
        ch_select(
            spark,
            "SELECT toStartOfHour(ts) AS h, count() AS n FROM events "
            "GROUP BY h ORDER BY h WITH FILL FROM 0 STEP INTERVAL 1 HOUR",
            ctx,
        )
    with pytest.raises(ChSqlError, match="AS expr"):
        ch_select(
            spark,
            "SELECT toHour(ts) AS h, count() AS n FROM events GROUP BY h "
            "ORDER BY h WITH FILL INTERPOLATE (n AS n + 1)",
            ctx,
        )
    with pytest.raises(ChSqlError, match="not selected"):
        ch_select(
            spark,
            "SELECT toHour(ts) AS h, count() AS n FROM events GROUP BY h "
            "ORDER BY h WITH FILL INTERPOLATE (missing_col)",
            ctx,
        )


def test_with_fill_interpolate_integer_key(spark, ctx):
    """INTERPOLATE on the established integer-grid path: LOCF between
    real rows, type default before the first real row."""
    out = ch_select(
        spark,
        "SELECT toHour(ts) AS h, uniqExact(user_id) AS u FROM events "
        "WHERE event_type = 'purchase' AND value > 450 AND toHour(ts) >= 5 "
        "GROUP BY h ORDER BY h WITH FILL FROM 0 TO 24 INTERPOLATE (u)",
        ctx,
    ).collect()
    assert [r["h"] for r in out] == list(range(24))
    # hours 0..4 are pre-data: LOCF has nothing to carry -> default 0
    assert all(r["u"] == 0 for r in out[:5])
    prev = None
    reals = {r["h"] for r in ch_select(
        spark,
        "SELECT toHour(ts) AS h FROM events "
        "WHERE event_type = 'purchase' AND value > 450 AND toHour(ts) >= 5 "
        "GROUP BY h",
        ctx,
    ).collect()}
    for r in out[5:]:
        if r["h"] in reals:
            prev = r["u"]
        elif prev is not None:
            assert r["u"] == prev


def test_except_intersect_filter_semantics(spark, ctx):
    """CH default EXCEPT/INTERSECT are filter semantics: duplicates on
    the left are kept wholesale; DISTINCT selects the set forms."""
    # events whose user never purchased: anti-filter keeps ALL the
    # non-purchasers' event rows (duplicates per user preserved)
    got = ch_select(
        spark,
        "SELECT user_id FROM events EXCEPT "
        "SELECT user_id FROM events "
        "WHERE event_type = 'purchase' AND value > 150",
        ctx,
    )
    ev = catalog.load(spark, SF_ORACLE, "events")
    buyers = ev.where("event_type = 'purchase' AND value > 150").select("user_id")
    want = ev.select("user_id").join(buyers, "user_id", "left_anti")
    assert 0 < got.count() == want.count()
    assert _rows(got) == _rows(want)
    assert got.count() > got.distinct().count()  # duplicates kept

    inter = ch_select(
        spark,
        "SELECT user_id FROM events INTERSECT DISTINCT "
        "SELECT o_custkey FROM orders",
        ctx,
    )
    want_i = (
        ev.select("user_id").distinct()
        .intersect(catalog.load(spark, SF_ORACLE, "orders")
                   .select("o_custkey").distinct())
    )
    assert inter.count() == want_i.count()

    with pytest.raises(ChSqlError, match="mixed set operations"):
        ch_select(
            spark,
            "SELECT 1 FROM orders UNION ALL SELECT 1 FROM orders "
            "EXCEPT SELECT 1 FROM orders",
            ctx,
        )


def test_star_except_column_exclusion_passes_through(spark, ctx):
    out = ch_select(
        spark,
        "SELECT * EXCEPT (props, value) FROM events ORDER BY event_id LIMIT 3",
        ctx,
    )
    assert out.columns == ["event_id", "ts", "user_id", "event_type"]
    assert out.count() == 3


def test_named_window_clause(spark, ctx):
    got = ch_select(
        spark,
        "SELECT user_id, event_id, "
        "row_number() OVER w AS rn, count() OVER w AS c "
        "FROM events WINDOW w AS (PARTITION BY user_id "
        "ORDER BY ts, event_id)",
        ctx,
    )
    ev = catalog.load(spark, SF_ORACLE, "events")
    ev.createOrReplaceTempView("__ev_nw")
    want = spark.sql(
        "SELECT user_id, event_id, row_number() OVER w AS rn, "
        "count(1) OVER w AS c FROM __ev_nw "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
    )
    assert _rows(got) == _rows(want)


def test_format_clause_drops(spark, ctx):
    out = ch_select(
        spark,
        "SELECT count() AS n FROM events FORMAT JSONEachRow",
        ctx,
    ).collect()
    assert out[0]["n"] == catalog.load(spark, SF_ORACLE, "events").count()


def test_array_join_clause(spark, ctx):
    """The standalone [LEFT] ARRAY JOIN clause: bare column REPLACES
    the array with its element; aliased expression keeps the source;
    LEFT keeps empty/NULL-array rows with a NULL element."""
    emb = catalog.load(spark, SF_ORACLE, "embeddings")
    # bare-column form: `embedding` becomes the element
    got = ch_select(
        spark,
        "SELECT vec_id, embedding AS e FROM "
        "(SELECT vec_id, arraySlice(embedding, 1, 3) AS embedding "
        " FROM embeddings) ARRAY JOIN embedding "
        "ORDER BY vec_id, e",
        ctx,
    )
    want = (
        emb.select("vec_id", F.slice("embedding", 1, 3).alias("embedding"))
        .select("vec_id", F.explode("embedding").alias("e"))
        .orderBy("vec_id", "e")
    )
    assert _rows(got) == _rows(want)

    # aliased form: the array column survives alongside the element
    out = ch_select(
        spark,
        "SELECT vec_id, x, arrayElement(embedding, 1) AS first FROM "
        "embeddings ARRAY JOIN arraySlice(embedding, 1, 2) AS x "
        "LIMIT 4",
        ctx,
    )
    assert out.columns == ["vec_id", "x", "first"]
    assert out.count() == 4


def test_array_join_lockstep_and_left(spark, ctx):
    """Multiple items iterate in lockstep (zip), not cross product;
    LEFT ARRAY JOIN keeps rows whose arrays are empty."""
    spark.createDataFrame(
        [(1, [10, 20], ["a", "b"]), (2, [], [])],
        "id int, xs array<int>, ys array<string>",
    ).createOrReplaceTempView("__aj_t")
    ctx2 = ChContext({"t": spark.table("__aj_t")})
    got = ch_select(
        spark,
        "SELECT id, xs, ys FROM t ARRAY JOIN xs, ys ORDER BY id, xs",
        ctx2,
    ).collect()
    # lockstep: 2 rows for id 1 (not 4); id 2 dropped (inner)
    assert [(r["id"], r["xs"], r["ys"]) for r in got] == [
        (1, 10, "a"), (1, 20, "b"),
    ]
    left = ch_select(
        spark,
        "SELECT id, xs FROM t LEFT ARRAY JOIN xs ORDER BY id, xs",
        ctx2,
    ).collect()
    assert [(r["id"], r["xs"]) for r in left] == [
        (1, 10), (1, 20), (2, None),
    ]

    # unequal sizes raise at runtime, like CH
    spark.createDataFrame(
        [(1, [1, 2], ["only"])], "id int, xs array<int>, ys array<string>"
    ).createOrReplaceTempView("__aj_bad")
    ctx3 = ChContext({"t": spark.table("__aj_bad")})
    with pytest.raises(Exception, match="equal sizes"):
        ch_select(spark, "SELECT id, xs, ys FROM t ARRAY JOIN xs, ys",
                  ctx3).collect()

    with pytest.raises(ChSqlError, match="AS alias"):
        ch_select(spark, "SELECT 1 FROM t ARRAY JOIN arraySlice(xs, 1, 1)",
                  ctx2)
    with pytest.raises(ChSqlError, match="only join"):
        ch_select(
            spark,
            "SELECT 1 FROM t ARRAY JOIN xs INNER JOIN t AS u ON 1 = 1",
            ctx2,
        )


_REFERENCE_MV_TEXT = """
SELECT
    user_id,
    username,
    account_type,
    toDateTime(updated_at / 1000000) AS updated_at,
    toDateTime(created_at / 1000000) AS created_at,
    _timestamp AS kafka_time,
    _offset AS kafka_offset
FROM kafka_shop.kafka__users
"""  # verbatim /root/reference/README.md:222-229 (the MV's AS SELECT body)


def _mv_source(spark):
    from postgre_to_clickhouse_spark.cdc import unwrap
    from postgre_to_clickhouse_spark.cdc.fixtures import users_cdc_events

    # expose the Kafka-engine virtual column names the CH text uses
    return (
        unwrap(users_cdc_events(spark))
        .withColumnRenamed("kafka_timestamp", "_timestamp")
        .withColumnRenamed("kafka_offset", "_offset")
    )


def test_reference_mv_text_verbatim(spark):
    """The EXACT SELECT body of the reference's materialized view
    (README.md:212-230) compiles through the front end, equals the MV
    the DDL catalog parses from the README, and reproduces the
    hand-computed golden — including the µs-truncating
    toDateTime(x / 1000000) cast (CH DateTime is second-precision)."""
    from postgre_to_clickhouse_spark.cdc import dedup_redelivery
    from postgre_to_clickhouse_spark.cdc.fixtures import GOLDEN_ALL_VERSIONS
    from tests.test_ch_ddl import readme_users

    got = ch_select(spark, _REFERENCE_MV_TEXT,
                    ChContext({"kafka__users": _mv_source(spark)}))
    want = readme_users(spark)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    assert {
        (r.user_id, r.updated_at.strftime("%Y-%m-%d %H:%M:%S")): (r.username, r.account_type)
        for r in dedup_redelivery(got).collect()
    } == GOLDEN_ALL_VERSIONS
    # the truncation actually bites: john's seed row has .123456 µs
    john = [r for r in got.collect()
            if r["user_id"] == 1 and r["kafka_offset"] == 0][0]
    assert john["updated_at"].microsecond == 0


def test_ch_select_runs_under_structured_streaming(spark, tmp_path):
    """The same verbatim CH MV text runs as a Structured Streaming
    query: the compiled plan is declarative, so pointing the context
    at a streaming DataFrame yields a streaming result — the
    reference's Kafka-engine → MV pattern with the MV text unchanged.
    Stateless map-only stage: append mode, no watermark needed."""
    batch_src = _mv_source(spark)
    path = str(tmp_path / "mv_src")
    batch_src.write.parquet(path)
    stream = spark.readStream.schema(batch_src.schema).parquet(path)
    out = ch_select(spark, _REFERENCE_MV_TEXT,
                    ChContext({"kafka__users": stream}))
    assert out.isStreaming
    q = (
        out.writeStream.format("memory").queryName("__ch_mv_stream")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("__ch_mv_stream")
    want = ch_select(spark, _REFERENCE_MV_TEXT,
                     ChContext({"kafka__users": batch_src}))
    assert _rows(got) == _rows(want) and got.count() > 0


def test_array_join_prewhere_on_replaced_column_refuses(spark, ctx):
    spark.createDataFrame(
        [(1, [10, 20])], "id int, xs array<int>"
    ).createOrReplaceTempView("__aj_pw")
    ctx2 = ChContext({"t": spark.table("__aj_pw")})
    with pytest.raises(ChSqlError, match="before ARRAY JOIN"):
        ch_select(
            spark,
            "SELECT id, xs FROM t ARRAY JOIN xs PREWHERE xs > 5",
            ctx2,
        )
    # untouched-column PREWHERE stays supported (commutes with explode)
    ok = ch_select(
        spark,
        "SELECT id, x FROM t ARRAY JOIN xs AS x PREWHERE id = 1",
        ctx2,
    )
    assert ok.count() == 2


def test_distinct_on_equals_limit_one_by(spark, ctx):
    """CH: SELECT DISTINCT ON (cols) == LIMIT 1 BY cols (documented
    equivalence); unordered DISTINCT ON refuses like unordered
    LIMIT BY."""
    don = ch_select(
        spark,
        "SELECT DISTINCT ON (user_id) user_id, event_id, value "
        "FROM events PREWHERE value IS NOT NULL "
        "ORDER BY value DESC, event_id",
        ctx,
    )
    lb = ch_select(
        spark,
        "SELECT user_id, event_id, value FROM events "
        "PREWHERE value IS NOT NULL "
        "ORDER BY value DESC, event_id LIMIT 1 BY user_id",
        ctx,
    )
    assert _rows(don) == _rows(lb)
    assert don.count() == don.select("user_id").distinct().count()

    with pytest.raises(ChSqlError, match="ORDER BY"):
        ch_select(spark, "SELECT DISTINCT ON (user_id) user_id, value "
                  "FROM events", ctx)
    with pytest.raises(ChSqlError, match="ambiguous"):
        ch_select(
            spark,
            "SELECT DISTINCT ON (user_id) user_id, value FROM events "
            "ORDER BY value LIMIT 2 BY user_id",
            ctx,
        )
    # plain DISTINCT is unaffected
    d = ch_select(spark, "SELECT DISTINCT event_type FROM events", ctx)
    assert d.count() == 5


def test_any_join_dedups_right_side(spark, ctx):
    """ANY LEFT/INNER JOIN: at most one right match per left row —
    right side collapsed to the min-struct row per key (the engine's
    deterministic instance of CH's arbitrary-pick contract)."""
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, lv string"
    ).createOrReplaceTempView("__any_l")
    spark.createDataFrame(
        [(1, 30, "x"), (1, 10, "y"), (1, 10, "w"), (3, 5, "z")],
        "k int, rv int, tag string",
    ).createOrReplaceTempView("__any_r")
    ctx2 = ChContext({"l": spark.table("__any_l"), "r": spark.table("__any_r")})

    left = ch_select(
        spark,
        "SELECT l.k AS k, l.lv AS lv, r.rv AS rv, r.tag AS tag "
        "FROM l ANY LEFT JOIN r ON l.k = r.k ORDER BY k",
        ctx2,
    ).collect()
    # k=1 gets exactly ONE match — the min struct (10, 'w'); k=2 -> NULLs
    assert [(r["k"], r["lv"], r["rv"], r["tag"]) for r in left] == [
        (1, "a", 10, "w"), (2, "b", None, None),
    ]

    inner = ch_select(
        spark,
        "SELECT k, lv, rv FROM l ANY INNER JOIN r USING (k)",
        ctx2,
    ).collect()
    assert [(r["k"], r["lv"], r["rv"]) for r in inner] == [(1, "a", 10)]

    # plain (ALL) join for contrast: 3 matched rows for k=1
    allj = ch_select(
        spark, "SELECT l.k AS k FROM l INNER JOIN r ON l.k = r.k", ctx2
    )
    assert allj.count() == 3


def test_any_right_join_dedups_left_side(spark, ctx):
    """r12: ANY RIGHT JOIN — the mirror: at most one LEFT match per
    right row; the LEFT side collapses to the min-struct row per key.
    Multi-join chains and ANY FULL refuse loudly."""
    spark.createDataFrame(
        [(1, "a"), (1, "a0"), (2, "b")], "k int, lv string"
    ).createOrReplaceTempView("__anyr_l")
    spark.createDataFrame(
        [(1, 30), (1, 10), (3, 5)], "k int, rv int"
    ).createOrReplaceTempView("__anyr_r")
    ctx2 = ChContext(
        {"l": spark.table("__anyr_l"), "r": spark.table("__anyr_r")})
    got = ch_select(
        spark,
        "SELECT r.k AS k, l.lv AS lv, r.rv AS rv "
        "FROM l ANY RIGHT JOIN r ON l.k = r.k ORDER BY k, rv",
        ctx2,
    ).collect()
    # left dedups to (1,'a'),(2,'b'); RIGHT join keeps every right row
    assert [(r["k"], r["lv"], r["rv"]) for r in got] == [
        (1, "a", 10), (1, "a", 30), (3, None, 5),
    ]
    # USING form
    got2 = ch_select(
        spark,
        "SELECT k, lv, rv FROM l ANY RIGHT JOIN r USING (k) "
        "ORDER BY k, rv",
        ctx2,
    ).collect()
    assert [(r["k"], r["lv"], r["rv"]) for r in got2] == [
        (1, "a", 10), (1, "a", 30), (3, None, 5),
    ]
    with pytest.raises(ChSqlError, match="single join"):
        ch_select(
            spark,
            "SELECT 1 FROM l ANY RIGHT JOIN r USING (k) "
            "INNER JOIN r AS r2 ON r2.k = l.k",
            ctx2,
        )


def test_any_full_join_dedups_both_sides(spark, ctx):
    """r16 (VERDICT r15 #7): ANY FULL JOIN — BOTH sides dedup per key
    (deterministic min-struct rows), then FULL OUTER join: the
    any_join_distinct_right_table_keys=1 variant, the only mode real
    CH serves ANY FULL in. An explicit =0 pin refuses loudly naming
    the setting (CH's own "disabled" behavior); an explicit =1 pin is
    the served default."""
    spark.createDataFrame(
        [(1, "a"), (1, "a0"), (2, "b")], "k int, lv string"
    ).createOrReplaceTempView("__anyf_l")
    spark.createDataFrame(
        [(1, 30), (1, 10), (3, 5)], "k int, rv int"
    ).createOrReplaceTempView("__anyf_r")
    ctx2 = ChContext(
        {"l": spark.table("__anyf_l"), "r": spark.table("__anyf_r")})
    got = ch_select(
        spark,
        "SELECT l.k AS lk, r.k AS rk, l.lv AS lv, r.rv AS rv "
        "FROM l ANY FULL JOIN r ON l.k = r.k "
        "ORDER BY coalesce(l.k, r.k)",
        ctx2,
    ).collect()
    assert [(r["lk"], r["rk"], r["lv"], r["rv"]) for r in got] == [
        (1, 1, "a", 10), (2, None, "b", None), (None, 3, None, 5),
    ]
    # USING form coalesces the key; =1 pin is explicitly accepted.
    # The extra settings exercise multi-token values (r16 review: a
    # negative number tokenizes as '-', '1' and must not refuse —
    # r15 accepted-and-ignored every SETTINGS clause)
    got2 = ch_select(
        spark,
        "SELECT k, lv, rv FROM l ANY FULL JOIN r USING (k) ORDER BY k "
        "SETTINGS any_join_distinct_right_table_keys = 1, "
        "os_thread_priority = -1, max_memory_usage = 10000000000",
        ctx2,
    ).collect()
    assert [(r["k"], r["lv"], r["rv"]) for r in got2] == [
        (1, "a", 10), (2, "b", None), (3, None, 5),
    ]
    with pytest.raises(ChSqlError, match="drop the pin"):
        ch_select(
            spark,
            "SELECT 1 FROM l ANY FULL JOIN r USING (k) "
            "SETTINGS any_join_distinct_right_table_keys = 0",
            ctx2,
        )
    with pytest.raises(ChSqlError, match="single join"):
        ch_select(
            spark,
            "SELECT 1 FROM l ANY FULL JOIN r USING (k) "
            "INNER JOIN r AS r2 ON r2.k = r.k",
            ctx2,
        )


def test_interpolate_preserves_real_null_values(spark, ctx):
    """CH INTERPOLATE rewrites FILLED rows only — a real row whose
    value is genuinely NULL keeps its NULL (LOCF must not overwrite
    source rows)."""
    spark.createDataFrame(
        [(1, 10.0), (3, None), (6, 20.0)], "k int, v double"
    ).createOrReplaceTempView("__interp_t")
    ctx2 = ChContext({"t": spark.table("__interp_t")})
    out = ch_select(
        spark,
        "SELECT k, v FROM t ORDER BY k WITH FILL INTERPOLATE (v)",
        ctx2,
    ).collect()
    got = {r["k"]: r["v"] for r in out}
    assert sorted(got) == [1, 2, 3, 4, 5, 6]
    assert got[1] == 10.0 and got[6] == 20.0
    assert got[3] is None          # real NULL preserved
    assert got[2] == 10.0          # filled: carries previous real value
    # filled rows after the real NULL carry that NULL — CH's
    # bare-column INTERPOLATE copies the previous row's value,
    # whatever it is, not the last non-null
    assert got[4] is None and got[5] is None


def test_or_null_combinator(spark, ctx):
    """-OrNull: NULL instead of the empty-set default. Spark's natural
    aggregates already have the OrNull semantics; countOrNull maps via
    nullif(count, 0)."""
    out = ch_select(
        spark,
        "SELECT sumOrNull(value) AS s, minOrNull(value) AS mn, "
        "countOrNull(value) AS c, uniqExactOrNull(user_id) AS u "
        "FROM events WHERE value > 1e12",
        ctx,
    ).collect()[0]
    assert out["s"] is None and out["mn"] is None and out["c"] is None
    assert out["u"] is None
    ok = ch_select(
        spark,
        "SELECT countOrNull(value) AS c FROM events WHERE value IS NOT NULL",
        ctx,
    ).collect()[0]["c"]
    assert ok and ok > 0


def test_to_start_of_interval_buckets(spark, ctx):
    """toStartOfInterval / toStartOfFifteenMinutes: epoch-aligned
    fixed-width buckets (the CH alignment rule); single calendar units
    fall back to date_trunc; multiples of calendar units refuse."""
    out = ch_select(
        spark,
        "SELECT ts, toStartOfInterval(ts, INTERVAL 15 MINUTE) AS b15, "
        "toStartOfFiveMinutes(ts) AS b5, "
        "toStartOfInterval(ts, INTERVAL 2 HOUR) AS b2h, "
        "toStartOfInterval(ts, INTERVAL 1 MONTH) AS bmo, "
        "toQuarter(ts) AS q, toDayOfYear(ts) AS doy "
        "FROM events LIMIT 200",
        ctx,
    ).collect()
    assert out
    for r in out:
        for col, width in (("b15", 900), ("b5", 300), ("b2h", 7200)):
            b = r[col].timestamp()
            assert b % width == 0 and b <= r["ts"].timestamp() < b + width
        assert r["bmo"].day == 1 and r["bmo"].hour == 0
        assert 1 <= r["q"] <= 4 and 1 <= r["doy"] <= 366

    with pytest.raises(ChSqlError, match="engine-specific"):
        ch_select(spark, "SELECT toStartOfInterval(ts, INTERVAL 3 MONTH) "
                  "FROM events", ctx)
    with pytest.raises(ChSqlError, match="INTERVAL n unit"):
        ch_select(spark, "SELECT toStartOfInterval(ts, 900) FROM events", ctx)


def test_asof_string_literal_survives_alias_remap(spark, ctx):
    """The ASOF flat-frame remap rewrites alias-qualified refs at the
    code level only — a string LITERAL containing `alias.word` (here
    alias `e`, literal 'e.g x') must pass through verbatim (ADVICE
    r10: the old regex rewrote it to 'g x')."""
    ev = catalog.load(spark, SF_ORACLE, "events").select(
        "event_id", "user_id", "ts"
    ).limit(50)
    marks = ev.select(
        F.col("user_id"), F.col("ts"), F.lit(1).alias("m")
    )
    ctx2 = ChContext({"ev": ev, "marks": marks})
    out = ch_select(
        spark,
        "SELECT concat('e.g ', toString(e.event_id)) AS tag, "
        "e.user_id AS user_id "
        "FROM ev AS e ASOF LEFT JOIN marks AS m "
        "ON e.user_id = m.user_id AND e.ts >= m.ts",
        ctx2,
    ).collect()
    assert out and all(r["tag"].startswith("e.g ") for r in out)


def test_array_join_null_exempt_without_ansi(spark, ctx):
    """A row where one lockstep array is NULL is exempt from the
    equal-sizes assertion EXPLICITLY — including under legacy
    (non-ANSI) sizeOfNull semantics where size(NULL) = -1, which broke
    the old coalesce(size(a)==size(b), true) encoding (ADVICE r10)."""
    spark.createDataFrame(
        [(1, [10, 20], ["a", "b"]), (2, None, ["x"])],
        "id int, xs array<int>, ys array<string>",
    ).createOrReplaceTempView("__aj_null")
    ctx2 = ChContext({"t": spark.table("__aj_null")})
    sql = "SELECT id, xs, ys FROM t ARRAY JOIN xs, ys ORDER BY id, xs"
    before = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.ansi.enabled", "spark.sql.legacy.sizeOfNull")
    }
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
        got = ch_select(spark, sql, ctx2).collect()
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # the NULL-array row is exempt (and dropped by the inner explode);
    # the real rows zip in lockstep
    assert [(r["id"], r["xs"], r["ys"]) for r in got] == [
        (1, 10, "a"), (1, 20, "b"),
    ]


def test_compile_without_subquery_leaves_session_views_alone(spark, ctx):
    """Compiling a statement with no predicate subquery must not
    clobber same-name session temp views (ADVICE r10: registration was
    unconditional); a statement WITH a predicate subquery registers
    the context tables, shadowing the caller's view."""
    sentinel = spark.range(3).selectExpr("id AS sentinel_col")
    sentinel.createOrReplaceTempView("events")
    try:
        ev = catalog.load(spark, SF_ORACLE, "events").limit(10)
        out = ch_select(
            spark, "SELECT count() AS n FROM events",
            ChContext({"events": ev}),
        )
        assert out.collect()[0]["n"] == 10
        # the caller's view survived
        assert spark.table("events").columns == ["sentinel_col"]
        # FROM-subqueries don't need (and don't trigger) registration
        ch_select(
            spark,
            "SELECT count() AS n FROM (SELECT user_id FROM events)",
            ChContext({"events": ev}),
        ).collect()
        assert spark.table("events").columns == ["sentinel_col"]
        # ... a predicate subquery DOES register (documented takeover)
        ch_select(
            spark,
            "SELECT count() AS n FROM events "
            "WHERE user_id IN (SELECT user_id FROM events)",
            ChContext({"events": ev}),
        ).collect()
        assert spark.table("events").columns != ["sentinel_col"]
    finally:
        spark.catalog.dropTempView("events")


def test_state_merge_combinators_roundtrip(spark, ctx):
    """r11: the AggregatingMergeTree MV combinators — fnState produces
    a mergeable state, fnMerge folds states back; computing states over
    two disjoint halves and merging equals the direct aggregate over
    the whole table (the part-merge invariant)."""
    half_sql = (
        "SELECT event_type, countState() AS n, sumState(value) AS s, "
        "avgState(value) AS a, minState(value) AS mn, "
        "maxState(value) AS mx, uniqState(user_id) AS u "
        "FROM events WHERE event_id % 2 = {p} GROUP BY event_type"
    )
    parts = [
        ch_select(spark, half_sql.format(p=p), ctx) for p in (0, 1)
    ]
    states = parts[0].unionByName(parts[1])
    ctx2 = ChContext({"states": states})
    got = ch_select(
        spark,
        "SELECT event_type, countMerge(n) AS n, "
        "round(toFloat64(sumMerge(s)), 6) AS s, "
        "round(avgMerge(a), 6) AS avg_v, "
        "minMerge(mn) AS mn, maxMerge(mx) AS mx, uniqMerge(u) AS u "
        "FROM states GROUP BY event_type",
        ctx2,
    )
    want = ch_select(
        spark,
        "SELECT event_type, count() AS n, "
        "round(toFloat64(sum(toDecimal64(value, 6))), 6) AS s, "
        "round(toFloat64(sum(toDecimal64(value, 6))) / count(value), 6)"
        " AS avg_v, "
        "min(value) AS mn, max(value) AS mx, uniqExact(user_id) AS u "
        "FROM events GROUP BY event_type",
        ctx,
    )
    assert _rows(got) == _rows(want) and got.count() > 0


def test_unsupported_state_combinators_still_refuse(spark, ctx):
    # quantile/topK joined the family in r12 — the boundary moved to
    # the remaining sketch states, which still refuse loudly
    with pytest.raises(ChSqlError, match="outside the subset|native MV"):
        ch_select(spark, "SELECT medianState(value) FROM events", ctx)
    with pytest.raises(ChSqlError, match="exactly one"):
        ch_select(spark, "SELECT sumState() FROM events", ctx)


def test_with_fill_grouped_by_leading_keys(spark, ctx):
    """r11: `ORDER BY g, f WITH FILL` fills f's range WITHIN each g
    group — explicit bounds give every group the full [FROM, TO) range,
    default bounds the group's own min/max (the CH within-group
    filling)."""
    spark.createDataFrame(
        [("a", 1, 10.0), ("a", 4, 40.0), ("b", 2, 20.0), ("b", 3, 30.0)],
        "g string, k int, v double",
    ).createOrReplaceTempView("__mkf")
    ctx2 = ChContext({"t": spark.table("__mkf")})
    # default bounds: per-group min..max
    got = ch_select(
        spark,
        "SELECT g, k, v FROM t ORDER BY g, k WITH FILL",
        ctx2,
    ).collect()
    assert [(r["g"], r["k"], r["v"]) for r in got] == [
        ("a", 1, 10.0), ("a", 2, 0.0), ("a", 3, 0.0), ("a", 4, 40.0),
        ("b", 2, 20.0), ("b", 3, 30.0),
    ]
    # explicit bounds: the full range for EVERY group
    got = ch_select(
        spark,
        "SELECT g, k, v FROM t ORDER BY g, k WITH FILL FROM 1 TO 5",
        ctx2,
    ).collect()
    assert [(r["g"], r["k"]) for r in got] == [
        ("a", 1), ("a", 2), ("a", 3), ("a", 4),
        ("b", 1), ("b", 2), ("b", 3), ("b", 4),
    ]
    # INTERPOLATE carries the previous REAL row's value in stream order
    got = ch_select(
        spark,
        "SELECT g, k, v FROM t "
        "ORDER BY g, k WITH FILL INTERPOLATE (v)",
        ctx2,
    ).collect()
    assert [(r["g"], r["k"], r["v"]) for r in got] == [
        ("a", 1, 10.0), ("a", 2, 10.0), ("a", 3, 10.0), ("a", 4, 40.0),
        ("b", 2, 20.0), ("b", 3, 30.0),
    ]


def test_with_fill_grouped_interval(spark, ctx):
    """Grouped STEP INTERVAL grids: per-user daily densification —
    the timeseries_gap_fill operator's semantics from verbatim CH."""
    out = ch_select(
        spark,
        "SELECT user_id, toStartOfDay(ts) AS d, count() AS n "
        "FROM events WHERE user_id <= 3 GROUP BY user_id, d "
        "ORDER BY user_id, d WITH FILL STEP INTERVAL 1 DAY",
        ctx,
    ).collect()
    assert out
    from collections import defaultdict
    per_user = defaultdict(list)
    for r in out:
        per_user[r["user_id"]].append((r["d"], r["n"]))
    for uid, rows in per_user.items():
        days = [d for d, _ in rows]
        # dense per-user grid: consecutive days, group-local bounds
        for a, b in zip(days, days[1:]):
            assert (b - a).days == 1, (uid, a, b)
        assert rows == sorted(rows)


def test_uniq_exact_state_merge(spark, ctx):
    """uniqExactState/-Merge: the exact distinct-set state — merging
    two halves' states equals the direct uniqExact, bit-exactly."""
    half = (
        "SELECT event_type, uniqExactState(user_id) AS u FROM events "
        "WHERE event_id % 2 = {p} GROUP BY event_type"
    )
    states = ch_select(spark, half.format(p=0), ctx).unionByName(
        ch_select(spark, half.format(p=1), ctx))
    got = ch_select(
        spark,
        "SELECT event_type, uniqExactMerge(u) AS u FROM s GROUP BY event_type",
        ChContext({"s": states}),
    )
    want = ch_select(
        spark,
        "SELECT event_type, uniqExact(user_id) AS u FROM events "
        "GROUP BY event_type",
        ctx,
    )
    assert _rows(got) == _rows(want) and got.count() > 0


def test_numbers_table_function(spark, ctx):
    """CH `numbers(N)` / `numbers(offset, N)`: the `number` column from
    a range leaf — usable standalone, with WHERE, and as a join side."""
    got = ch_select(
        spark, "SELECT number FROM numbers(5) ORDER BY number",
        ChContext({}),
    ).collect()
    assert [r["number"] for r in got] == [0, 1, 2, 3, 4]
    got = ch_select(
        spark,
        "SELECT count() AS n, sum(number) AS s FROM numbers(10, 90) "
        "WHERE number % 2 = 0",
        ChContext({}),
    ).collect()[0]
    assert (got["n"], got["s"]) == (45, sum(x for x in range(10, 100) if x % 2 == 0))
    # as a join side
    got = ch_select(
        spark,
        "SELECT n.number AS k FROM numbers(3) AS n "
        "INNER JOIN numbers(2, 4) AS m ON n.number = m.number",
        ChContext({}),
    ).collect()
    assert sorted(r["k"] for r in got) == [2]
    with pytest.raises(ChSqlError, match="integer literals"):
        ch_select(spark, "SELECT 1 FROM numbers(x)", ChContext({}))


def test_paste_join_zips_ordered_subqueries(spark):
    """r13: CH PASTE JOIN — positional gluing. The subset requires
    both sides be ordered subqueries; rows zip by global row index
    under each side's own ORDER BY, length = min(left, right) (the CH
    contract), duplicate output names refuse."""
    from postgre_to_clickhouse_spark.ch_select import (
        ChContext,
        ChSqlError,
        ch_select,
    )

    a = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b")], "k long, s string")
    b = spark.createDataFrame(
        [(30.0,), (10.0,), (20.0,), (40.0,)], "v double")
    ctx = ChContext({"ta": a, "tb": b})
    out = ch_select(
        spark,
        "SELECT k, s, v FROM (SELECT k, s FROM ta ORDER BY k) "
        "PASTE JOIN (SELECT v FROM tb ORDER BY v DESC)",
        ctx,
    )
    rows = sorted(map(tuple, out.collect()))
    # left order k asc zips against right order v desc; min length 3
    assert rows == [(1, "a", 40.0), (2, "b", 30.0), (3, "c", 20.0)]
    # descending left side flips the pairing
    out2 = ch_select(
        spark,
        "SELECT k, v FROM (SELECT k FROM ta ORDER BY k DESC) "
        "PASTE JOIN (SELECT v FROM tb ORDER BY v)",
        ctx,
    )
    assert sorted(map(tuple, out2.collect())) == [
        (1, 30.0), (2, 20.0), (3, 10.0)]
    # refusals: unordered side, base-table side, ON condition,
    # duplicate output columns
    with pytest.raises(ChSqlError, match="ORDER BY"):
        ch_select(spark,
                  "SELECT * FROM (SELECT k FROM ta) "
                  "PASTE JOIN (SELECT v FROM tb ORDER BY v)", ctx)
    with pytest.raises(ChSqlError, match="ordered subquery"):
        ch_select(spark,
                  "SELECT * FROM ta "
                  "PASTE JOIN (SELECT v FROM tb ORDER BY v)", ctx)
    with pytest.raises(ChSqlError, match="no ON"):
        ch_select(spark,
                  "SELECT * FROM (SELECT k FROM ta ORDER BY k) "
                  "PASTE JOIN (SELECT v FROM tb ORDER BY v) ON k = v",
                  ctx)
    with pytest.raises(ChSqlError, match="share column"):
        ch_select(spark,
                  "SELECT * FROM (SELECT k FROM ta ORDER BY k) "
                  "PASTE JOIN (SELECT k FROM ta ORDER BY k)", ctx)


def test_paste_join_layout_independent(spark):
    """The positional zip is layout-independent: repartitioning either
    side cannot change the pairing (the global index is derived from
    the declared order, not partition layout)."""
    from postgre_to_clickhouse_spark.ch_select import ChContext, ch_select

    n = 500
    a = spark.range(n).toDF("k").repartition(13)
    b = spark.range(n).selectExpr("id * 2 AS v").repartition(7)
    out = ch_select(
        spark,
        "SELECT k, v FROM (SELECT k FROM ta ORDER BY k) "
        "PASTE JOIN (SELECT v FROM tb ORDER BY v)",
        ChContext({"ta": a, "tb": b}),
    )
    got = sorted(map(tuple, out.collect()))
    assert got == [(i, 2 * i) for i in range(n)]


def test_multi_key_with_fill_cartesian_grid(spark):
    """r13: ORDER BY a WITH FILL FROM..TO, b WITH FILL FROM..TO fills
    the cartesian grid — real rows keep their values, inserted rows
    take type defaults (or LOCF under INTERPOLATE), group keys still
    scope the grid."""
    from postgre_to_clickhouse_spark.ch_select import (
        ChContext,
        ChSqlError,
        ch_select,
    )

    t = spark.createDataFrame(
        [(0, 0, 10.0), (1, 2, 30.0)], "a long, b long, v double")
    out = ch_select(
        spark,
        "SELECT a, b, v FROM t ORDER BY a WITH FILL FROM 0 TO 2, "
        "b WITH FILL FROM 0 TO 3",
        ChContext({"t": t}),
    )
    got = sorted(map(tuple, out.collect()))
    assert got == [
        (0, 0, 10.0), (0, 1, 0.0), (0, 2, 0.0),
        (1, 0, 0.0), (1, 1, 0.0), (1, 2, 30.0),
    ]
    # INTERPOLATE carries over the final (a, b)-sorted stream
    out2 = ch_select(
        spark,
        "SELECT a, b, v FROM t ORDER BY a WITH FILL FROM 0 TO 2, "
        "b WITH FILL FROM 0 TO 3 INTERPOLATE (v)",
        ChContext({"t": t}),
    )
    got2 = [tuple(r) for r in out2.collect()]
    assert got2 == [
        (0, 0, 10.0), (0, 1, 10.0), (0, 2, 10.0),
        (1, 0, 10.0), (1, 1, 10.0), (1, 2, 30.0),
    ]
    # group keys scope the grid: one grid per g
    g = spark.createDataFrame(
        [("x", 0, 0, 1.0), ("y", 1, 1, 2.0)],
        "g string, a long, b long, v double")
    out3 = ch_select(
        spark,
        "SELECT g, a, b, v FROM t2 ORDER BY g, "
        "a WITH FILL FROM 0 TO 2, b WITH FILL FROM 0 TO 2",
        ChContext({"t2": g}),
    )
    assert out3.count() == 8  # 2 groups x 2 x 2
    assert out3.filter("g = 'x' AND a = 1 AND b = 1 AND v = 0.0").count() == 1
    # refusals: INTERPOLATE on a non-last fill item; STEP INTERVAL in
    # multi-key; plain key after a fill key
    with pytest.raises(ChSqlError, match="LAST WITH FILL"):
        ch_select(spark,
                  "SELECT a, b FROM t ORDER BY a WITH FILL FROM 0 TO 2 "
                  "INTERPOLATE (v), b WITH FILL FROM 0 TO 2",
                  ChContext({"t": t}))
    with pytest.raises(ChSqlError, match="cannot follow"):
        ch_select(spark,
                  "SELECT a, b, v FROM t ORDER BY a WITH FILL "
                  "FROM 0 TO 2, v", ChContext({"t": t}))


def test_limit_with_ties(spark):
    """r13: LIMIT n WITH TIES keeps rows tying with the n-th row on
    the ORDER BY key; requires ORDER BY; no second LIMIT forms."""
    from postgre_to_clickhouse_spark.ch_select import (
        ChContext,
        ChSqlError,
        ch_select,
    )

    t = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c"), (2, "d"), (3, "e")],
        "k long, s string")
    ctx = ChContext({"t": t})
    out = ch_select(
        spark, "SELECT k, s FROM t ORDER BY k LIMIT 2 WITH TIES", ctx)
    got = sorted(map(tuple, out.collect()))
    assert got == [(1, "a"), (2, "b"), (2, "c"), (2, "d")]
    # exact boundary: n lands on the last of a tie group -> no extras
    out2 = ch_select(
        spark, "SELECT k FROM t ORDER BY k LIMIT 5 WITH TIES", ctx)
    assert out2.count() == 5
    with pytest.raises(ChSqlError, match="ORDER BY"):
        ch_select(spark, "SELECT k FROM t LIMIT 2 WITH TIES", ctx)


def test_explain_ast_parse_tree():
    """r13: explain_ast dumps THIS front end's parse tree in CH's
    indented node-per-line layout — a pure parse-time walk (the
    referenced tables need not exist)."""
    from postgre_to_clickhouse_spark.ch_select import explain_ast

    lines = explain_ast(
        "WITH t AS (SELECT a, count() AS n FROM x GROUP BY a) "
        "SELECT a, n FROM t FINAL LEFT JOIN y USING (a) "
        "WHERE n > 2 ORDER BY n DESC LIMIT 3"
    )
    assert lines[0].startswith("WithClause")
    assert " CommonTableExpression t" in lines
    # depth = leading spaces; the CTE body nests under its node
    i = lines.index(" CommonTableExpression t")
    assert lines[i + 1] == "  SelectQuery"
    assert "SelectQuery" in lines  # the main query at depth 0
    assert any(ln.strip() == "TableIdentifier t FINAL" for ln in lines)
    assert any(ln.strip() == "TableJoin LEFT" for ln in lines)
    assert any(ln.strip() == "Using (a)" for ln in lines)
    assert any(ln.strip() == "Limit 3" for ln in lines)


def test_explain_ast_setops_and_fill():
    from postgre_to_clickhouse_spark.ch_select import explain_ast

    lines = explain_ast(
        "SELECT a FROM x UNION ALL SELECT b FROM y ORDER BY b WITH FILL "
        "FROM 1 TO 5"
    )
    assert lines[0].startswith("SelectWithUnionQuery (children 2)")
    assert any(ln.strip() == "SetOperation UNION ALL" for ln in lines)
    assert any(ln.strip() == "WithFill b FROM 1 TO 5 STEP 1"
               for ln in lines)


def test_explain_syntax_shows_rewrites():
    """r13: explain_syntax renders the statement AFTER the dialect's
    expression rewrites — the Spark-SQL-facing text the compiler
    actually emits."""
    from postgre_to_clickhouse_spark.ch_select import explain_syntax

    text = "\n".join(explain_syntax(
        "SELECT toStartOfDay(ts) AS d, uniq(u), countIf(x > 1) "
        "FROM events PREWHERE a = 1 GROUP BY d WITH TOTALS "
        "ORDER BY d LIMIT 5 BY d"
    ))
    assert "date_trunc('DAY', ts) AS d" in text
    assert "approx_count_distinct(u)" in text
    assert "count_if(x > 1)" in text or "count(CASE" in text \
        or "count(if(" in text.lower()
    assert "PREWHERE a = 1" in text
    assert "GROUP BY d WITH TOTALS" in text
    assert "LIMIT 5 BY d" in text


def test_explain_syntax_is_reparseable(spark, ctx):
    """The SYNTAX rendering is itself valid dialect text: compiling
    the re-rendered statement gives the same result as the original
    (canonicalization is a fixed point, not a lossy pretty-print)."""
    from postgre_to_clickhouse_spark.ch_select import ch_select, explain_syntax

    sql = ("SELECT c_nationkey, count() AS n FROM customer "
           "GROUP BY c_nationkey HAVING n >= 1 ORDER BY c_nationkey "
           "LIMIT 10")
    rendered = "\n".join(explain_syntax(sql))
    a = ch_select(spark, sql, ctx).collect()
    b = ch_select(spark, rendered, ctx).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_explain_syntax_renders_with_fill():
    """r13 s3 (review): the SYNTAX rendering keeps WITH FILL
    FROM/TO/STEP and INTERPOLATE — dropping them would render a
    statement with different semantics than what executes."""
    from postgre_to_clickhouse_spark.ch_select import explain_syntax

    text = "\n".join(explain_syntax(
        "SELECT d, v FROM t ORDER BY d WITH FILL FROM 1 TO 5 STEP 2 "
        "INTERPOLATE (v)"
    ))
    assert "ORDER BY d WITH FILL FROM 1 TO 5 STEP 2 INTERPOLATE (v)" \
        in text


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_limit_with_ties_matches_rank_reference(spark, seed):
    """r13 s3: the distributed WITH TIES compile (TakeOrdered
    threshold + broadcast lexicographic filter) returns EXACTLY the
    rank()-window reference set on adversarial data — NULL keys,
    heavy ties, DESC, multi-key — for several n."""
    df = (
        spark.range(200)
        .selectExpr(
            f"CASE WHEN id % 11 = {seed % 11} THEN NULL "
            f"ELSE CAST(hash(id, {seed}) % 5 AS BIGINT) END AS k1",
            f"CASE WHEN id % 7 = 0 THEN NULL "
            f"ELSE CAST(hash(id, {seed + 1}) % 3 AS BIGINT) END AS k2",
            "id AS v",
        )
    )
    df.createOrReplaceTempView("lt_ref_src")
    from postgre_to_clickhouse_spark.ch_select import ch_select

    for order, spark_order in (
        ("k1", "k1"),
        ("k1 DESC", "k1 DESC"),
        ("k1, k2 DESC", "k1, k2 DESC"),
        ("k1 DESC, k2", "k1 DESC, k2"),
    ):
        def _key(t):
            return tuple((x is None, x) for x in t)

        for n in (1, 3, 10, 250):
            got = sorted(map(tuple, ch_select(
                spark,
                f"SELECT k1, k2, v FROM t ORDER BY {order} "
                f"LIMIT {n} WITH TIES",
                ChContext({"t": df}),
            ).collect()), key=_key)
            want = sorted(map(tuple, spark.sql(
                f"SELECT k1, k2, v FROM (SELECT *, rank() OVER "
                f"(ORDER BY {spark_order}) AS rk FROM lt_ref_src) "
                f"WHERE rk <= {n}"
            ).collect()), key=_key)
            assert got == want, (order, n)


def test_limit_zero_with_ties_returns_no_rows(spark):
    """r13 s3 (review 2): LIMIT 0 WITH TIES is zero rows (CH) — the
    empty threshold frame must not read as 'fewer rows than n'."""
    from postgre_to_clickhouse_spark.ch_select import ch_select

    df = spark.range(10).selectExpr("id % 3 AS k", "id AS v")
    out = ch_select(
        spark, "SELECT k, v FROM t ORDER BY k LIMIT 0 WITH TIES",
        ChContext({"t": df}))
    assert out.count() == 0


def test_limit_with_ties_positional_order_by(spark):
    """r13 s3 (review 3): ORDER BY 1 is POSITIONAL — the WITH TIES
    threshold path must resolve the ordinal, not evaluate the literal
    (which would make every row tie)."""
    from postgre_to_clickhouse_spark.ch_select import ch_select

    df = spark.range(10).selectExpr("id % 3 AS k", "id AS v")
    out = ch_select(
        spark, "SELECT k, v FROM t ORDER BY 1 LIMIT 4 WITH TIES",
        ChContext({"t": df}))
    rows = out.collect()
    # k=0 has 4 members (0,3,6,9); the 4th row's key is 0 → exactly
    # the k=0 group survives (NOT all 10 rows)
    assert len(rows) == 4 and all(r.k == 0 for r in rows)
