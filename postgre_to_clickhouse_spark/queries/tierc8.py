"""Round-9 driver queries: bloom/token-bloom skip-index reads, table
projections, and the ClickHouse SAMPLE clause — the three r8-VERDICT
gaps (#1 bloom proof, #3 projections, #4 SAMPLE parity) surfaced as
driver-verified lifecycle queries with in-query skip-rate contracts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from postgre_to_clickhouse_spark import catalog
from postgre_to_clickhouse_spark.queries.registry import dsum, register
from postgre_to_clickhouse_spark.session import configure


def _t(spark, sf_dir, name):
    configure(spark)
    return catalog.load(spark, sf_dir, name)


def _pin(out):
    """Executor-pinned materialization for tempdir-backed lifecycle
    results — see queries/tierc3.py:_pin (r8, VERDICT r7 #1; r17:
    micro_shape'd for one planning round, A/B numbers there)."""
    from postgre_to_clickhouse_spark.session import micro_shape

    with micro_shape(out.sparkSession):
        return out.localCheckpoint(eager=True)


@register(
    "manifest_bloom_read",
    oracle="""
    SELECT 'eq7' AS probe, doc_id, lang FROM documents WHERE doc_id = 7
    UNION ALL
    SELECT 'eq20' AS probe, doc_id, lang FROM documents WHERE doc_id = 20
    UNION ALL
    SELECT 'tok33' AS probe, doc_id, lang FROM documents
    WHERE list_contains(
      regexp_extract_all(lower(text || ' doctag' || CAST(doc_id AS VARCHAR)),
                         '[a-z0-9]+'),
      'doctag33')
    """,
)
def manifest_bloom_read(spark, sf_dir):
    """r9 (VERDICT r8 #1d), A8 bloom + token-bloom skip indexes THROUGH
    the driver: the documents table — each doc's text suffixed with a
    per-doc ``doctagN`` token so every doc owns one unique indexed
    token — ingested as four part batches into a ``ManifestTable``
    with ``bloom_cols=("doc_id",)`` and ``token_bloom_cols=("text2",)``
    (the ClickHouse ``INDEX ... TYPE bloom_filter`` / ``tokenbf_v1``
    surface, provisioned in the reference's target DDL,
    /root/reference/docker-compose.yml:156-167). Three probed reads —
    two doc_id equality probes and one hasToken probe — each carry an
    in-query contract check that RAISES unless the bitsets actually
    pruned files (a single doc lives in 1 of ~16 files; the bloom must
    skip most of the rest), while the DuckDB oracle recomputes the
    exact row sets from raw documents — an over-pruning bitset (false
    negative) breaks the hash, an under-pruning one breaks the
    RuntimeError. Build cost is one distributed scan of each batch's
    NEW files (never table-sized); probe cost is manifest-local."""
    import shutil
    import tempfile

    from postgre_to_clickhouse_spark.sinks.manifest import ManifestTable

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.concat(F.col("text"), F.lit(" doctag"), F.col("doc_id").cast("string")).alias(
            "text2"
        ),
    )
    path = tempfile.mkdtemp(prefix="p2c_manifest_bloom_")
    try:
        t = ManifestTable(
            path,
            key_col="doc_id",
            n_buckets=4,
            bloom_cols=("doc_id",),
            token_bloom_cols=("text2",),
        )
        apply_batch = t.append_parts(sort_key=("doc_id", "doc_id"), arrival=("doc_id",))
        for b in range(4):
            apply_batch(d.filter(F.pmod("doc_id", F.lit(4)) == b), b)
        n_total = len(t.current_manifest()["files"])

        def probed(label, equals=None, tokens=None):
            kept = t.files_for(equals=equals, tokens=tokens)
            if not len(kept) < n_total:
                raise RuntimeError(
                    f"bloom probe {label} pruned nothing: {len(kept)}/{n_total}"
                )
            return t.read(spark, equals=equals, tokens=tokens)

        toks = F.filter(F.split(F.lower("text2"), r"[^a-z0-9]+"), lambda x: x != "")
        eq7 = (
            probed("eq7", equals=[("doc_id", 7)])
            .filter(F.col("doc_id") == 7)
            .select(F.lit("eq7").alias("probe"), "doc_id", "lang")
        )
        eq20 = (
            probed("eq20", equals=[("doc_id", 20)])
            .filter(F.col("doc_id") == 20)
            .select(F.lit("eq20").alias("probe"), "doc_id", "lang")
        )
        tok33 = (
            probed("tok33", tokens=[("text2", "doctag33")])
            .filter(F.array_contains(toks, "doctag33"))
            .select(F.lit("tok33").alias("probe"), "doc_id", "lang")
        )
        return _pin(eq7.unionByName(eq20).unionByName(tok33))
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "manifest_projection_read",
    oracle="""
    WITH b AS (
      SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events, b
    WHERE epoch_us(ts) >= b.lo + ((b.hi - b.lo) * 2) // 4
      AND epoch_us(ts) <  b.lo + ((b.hi - b.lo) * 3) // 4
    GROUP BY event_type
    """,
)
def manifest_projection_read(spark, sf_dir):
    """r9 (VERDICT r8 #3), A8 table PROJECTIONS through the driver —
    ClickHouse ``ADD PROJECTION ... ORDER BY`` (the alternate-layout
    half of projections; the agg-MV covers the pre-agg half): events
    ingested as four TIME-INTERLEAVED part batches (split by
    ``kafka_offset % 4``, so every part — and every key-hash bucket
    file — spans the full time range and the BASE zone maps on
    ``updated_at`` can prune NOTHING), under a ``by_time`` projection
    that re-sorts each part by ``updated_at`` into range-split files.
    A part-merge compaction runs mid-stream (merges parts 0-2,
    REBUILDING the projection for the merged rows — CH merge
    semantics). The third-quartile range read must then (a) choose the
    projection layout, (b) prove base pruning is impossible while the
    projection skips files — both enforced by in-query RuntimeErrors —
    and (c) return oracle-exact aggregates, proving layout choice and
    projection maintenance are invisible to results. Quartile bounds
    are exact integer µs arithmetic (identical `//` in Python, Spark,
    DuckDB)."""
    import shutil
    import tempfile

    from postgre_to_clickhouse_spark.sinks.manifest import ManifestTable

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("updated_at"),
        F.col("event_id").alias("kafka_offset"),
    )
    lo, hi = ev.agg(F.min("updated_at"), F.max("updated_at")).collect()[0]
    bounds = [lo + ((hi - lo) * k) // 4 for k in range(5)]
    path = tempfile.mkdtemp(prefix="p2c_manifest_proj_")
    try:
        t = ManifestTable(
            path, key_col="user_id", n_buckets=4, stats_cols=("updated_at",)
        )
        t.add_projection(spark, "by_time", "updated_at", n_files=4)
        apply_batch = t.append_parts(
            sort_key=("user_id", "updated_at"), arrival=("kafka_offset",)
        )
        for b in range(4):  # time-interleaved: every batch spans the range
            apply_batch(ev.filter(F.pmod("kafka_offset", F.lit(4)) == b), b)
            if b == 2:  # background part-merge must rebuild the projection
                t.compact(spark)
        q_lo, q_hi = bounds[2], bounds[3] - 1  # third quartile, inclusive
        probe = [("updated_at", q_lo, q_hi)]
        n_base = len(t.files_for())
        if len(t.files_for(probe)) != n_base:
            raise RuntimeError(
                "base layout unexpectedly pruned — the interleaved-ingest "
                "fixture no longer isolates the projection's contribution"
            )
        layout, files = t.choose_layout(where=probe)
        if layout != "by_time" or not 0 < len(files) < n_base:
            raise RuntimeError(
                f"projection not chosen or pruned nothing: layout={layout}, "
                f"{len(files)}/{n_base} files"
            )
        out = (
            t.read(spark, where=probe)
            .filter((F.col("updated_at") >= q_lo) & (F.col("updated_at") <= q_hi))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                dsum("value").alias("value_sum"),
            )
        )
        return _pin(out)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _horner_u(seed: str, id_expr: str) -> str:
    """DuckDB twin of sampling.split_hash (see queries/tierc5.py)."""
    h = f"md5('{seed}' || ':' || CAST({id_expr} AS VARCHAR))"
    expr = "0"
    for i in range(1, 9):
        expr = f"(({expr}) * 16 + (strpos('0123456789abcdef', substring({h}, {i}, 1)) - 1))"
    return f"(CAST({expr} AS DOUBLE) / 4294967296.0)"


@register(
    "sample_keyed_events",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events
    WHERE {_horner_u("sample-v1", "user_id")} >= 0.35
      AND {_horner_u("sample-v1", "user_id")} < 0.65
    GROUP BY event_type
    """,
)
def sample_keyed_events(spark, sf_dir):
    """r9 (VERDICT r8 #4): the ClickHouse ``SAMPLE 0.3 OFFSET 0.35``
    clause over the events table, keyed by ``user_id`` — every user's
    events are kept or dropped TOGETHER (per-entity aggregates stay
    unbiased), and the member set is the deterministic md5 hash band
    the DuckDB oracle recomputes value-for-value
    (:func:`operators.sampling.sample_consistent`; superset/partition
    laws pytest-gated in test_training_ops.py). Map-only: the sample
    is a scan predicate — no shuffle, no state, any cluster size."""
    from postgre_to_clickhouse_spark.operators.sampling import sample_consistent

    ev = _t(spark, sf_dir, "events")
    out = sample_consistent(ev, 0.3, "user_id", offset=0.35, seed="sample-v1")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        dsum("value").alias("value_sum"),
    )


@register(
    "manifest_update_read",
    oracle="""
    WITH b AS (
      SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CASE WHEN epoch_us(ts) < b.lo + (b.hi - b.lo) // 4
                              THEN value * 2 ELSE value END
                         AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events, b
    GROUP BY event_type
    """,
)
def manifest_update_read(spark, sf_dir):
    """r9, A8 mutations THROUGH the driver: the events table ingested
    as four time-quartile part batches into a zone-mapped
    ``ManifestTable``, then hit with the ClickHouse
    ``ALTER TABLE ... UPDATE value = value * 2 WHERE ts < q1`` mutation
    (:meth:`sinks.manifest.ManifestTable.update_where`). The in-query
    contract parses the commit note's ``scanned=M/N`` audit and RAISES
    unless the zone maps actually bounded the hit-finding scan to a
    strict subset of files (the expired-tail shape), while the DuckDB
    oracle recomputes the doubled first quartile from raw events — an
    update that misses rows, touches extra rows, or re-applies breaks
    the hash. Doubling a 2-decimal double is exact (exponent
    increment), so sums stay engine-identical via the decimal cast.

    Scale: hit-finding reads only files whose [min, max] reach below
    the cutoff; only touched buckets rewrite. The quartile bound is
    exact integer epoch-µs arithmetic in all three engines."""
    import shutil
    import tempfile

    from postgre_to_clickhouse_spark.sinks.manifest import ManifestTable

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("updated_at"),
        F.col("event_id").alias("kafka_offset"),
    )
    lo, hi = ev.agg(F.min("updated_at"), F.max("updated_at")).collect()[0]
    bounds = [lo + ((hi - lo) * k) // 4 for k in range(5)]
    path = tempfile.mkdtemp(prefix="p2c_manifest_upd_")
    try:
        t = ManifestTable(
            path, key_col="user_id", n_buckets=4, stats_cols=("updated_at",)
        )
        apply_batch = t.append_parts(
            sort_key=("user_id", "updated_at"), arrival=("kafka_offset",)
        )
        for b in range(4):
            up = F.col("updated_at")
            cond = (up >= bounds[b]) & (
                (up < bounds[b + 1]) if b < 3 else (up <= bounds[4])
            )
            apply_batch(ev.filter(cond), b)
        n_total = len(t.current_manifest()["files"])
        t.update_where(
            spark,
            {"value": "value * 2"},
            f"updated_at < {bounds[1]}",
            where=[("updated_at", None, bounds[1] - 1)],
        )
        note = t.current_manifest()["note"]
        scanned, total = map(int, note.split("scanned=")[1].split("/"))
        if not (total == n_total and 0 < scanned < total):
            raise RuntimeError(f"mutation hit-finding was not pruned: {note}")
        out = (
            t.read(spark)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("value_sum"),
            )
        )
        return _pin(out)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "manifest_ttl_rollup_read",
    oracle="""
    WITH b AS (
      SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM events
    ),
    expired AS (
      SELECT user_id, event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value
      FROM events, b
      WHERE epoch_us(ts) < b.lo + ((b.hi - b.lo) * 2) // 4
      GROUP BY user_id, event_type
    ),
    live AS (
      SELECT event_type, value FROM events, b
      WHERE epoch_us(ts) >= b.lo + ((b.hi - b.lo) * 2) // 4
    ),
    u AS (
      SELECT event_type, value FROM expired
      UNION ALL
      SELECT event_type, value FROM live
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM u
    GROUP BY event_type
    """,
)
def manifest_ttl_rollup_read(spark, sf_dir):
    """r9, A8 rollup TTL THROUGH the driver: ClickHouse ``TTL ts +
    INTERVAL ... GROUP BY user, type SET value = sum(value)`` — the
    downsample-on-expiry that collapses the first half of the events
    table to one row per (user, event_type) while the recent half
    stays row-level (:meth:`sinks.manifest.ManifestTable.
    apply_ttl_rollup`). The SET aggregate goes through the exact
    decimal cast, so the rolled value is the engine-identical sum; the
    oracle recomputes the collapsed+live union from raw events — a
    rollup that loses a group, drops a live row, or double-counts
    breaks either n_rows or value_sum. The in-query contract requires
    the zone maps to bound hit-finding to a strict file subset.

    Scale: same pruned-mutation shape as manifest_update_read; the
    collapse is per-bucket partial-agg work on the expired slice."""
    import shutil
    import tempfile

    from postgre_to_clickhouse_spark.sinks.manifest import ManifestTable

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("updated_at"),
        F.col("event_id").alias("kafka_offset"),
    )
    lo, hi = ev.agg(F.min("updated_at"), F.max("updated_at")).collect()[0]
    bounds = [lo + ((hi - lo) * k) // 4 for k in range(5)]
    path = tempfile.mkdtemp(prefix="p2c_manifest_ttlr_")
    try:
        t = ManifestTable(
            path, key_col="user_id", n_buckets=4, stats_cols=("updated_at",)
        )
        apply_batch = t.append_parts(
            sort_key=("user_id", "updated_at"), arrival=("kafka_offset",)
        )
        for b in range(4):
            up = F.col("updated_at")
            cond = (up >= bounds[b]) & (
                (up < bounds[b + 1]) if b < 3 else (up <= bounds[4])
            )
            apply_batch(ev.filter(cond), b)
        n_total = len(t.current_manifest()["files"])
        t.apply_ttl_rollup(
            spark,
            "updated_at",
            bounds[2],
            group_by=("user_id", "event_type"),
            set_exprs={
                "value": "cast(sum(cast(value as decimal(18,2))) as double)"
            },
        )
        note = t.current_manifest()["note"]
        scanned, total = map(int, note.split("scanned=")[1].split("/"))
        if not (total == n_total and 0 < scanned < total):
            raise RuntimeError(f"rollup hit-finding was not pruned: {note}")
        out = (
            t.read(spark)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("value_sum"),
            )
        )
        return _pin(out)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "manifest_agg_projection_read",
    oracle="""
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS value_sum,
           CAST(min(event_id) AS BIGINT) AS first_event,
           CAST(max(event_id) AS BIGINT) AS last_event
    FROM events
    GROUP BY user_id, event_type
    """,
)
def manifest_agg_projection_read(spark, sf_dir):
    """r9, A8 AGGREGATE projections THROUGH the driver: the events
    table ingested as four part batches, with a ClickHouse
    ``ADD PROJECTION (SELECT user, type, count(), sum(value), min(id),
    max(id) GROUP BY user, type)`` aggregate projection
    (:meth:`sinks.manifest.ManifestTable.add_agg_projection`) declared
    after batch 1 — so backfill (CH ``MATERIALIZE PROJECTION``) covers
    the existing part and per-batch maintenance covers the rest. The
    read merges per-part partial states only (``fallback=False``
    raises if the fast path is unavailable), and the in-query contract
    additionally requires the merged input to be SMALLER than the base
    row count — the whole point of the projection. The DuckDB oracle
    computes the same GROUP BY from raw events: a partial state lost,
    double-merged, or rebuilt wrong at compaction breaks the hash.
    Double sums ride exact decimals in the state, so ANY merge order
    is bit-identical to the direct scan.

    Scale: each part's state is map-side-combinable on that batch; the
    read touches Σ|groups per part| rows, never the table's."""
    import os
    import shutil
    import tempfile

    from postgre_to_clickhouse_spark.sinks.manifest import ManifestTable

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("updated_at"),
        F.col("event_id").alias("kafka_offset"),
    )
    lo, hi = ev.agg(F.min("updated_at"), F.max("updated_at")).collect()[0]
    bounds = [lo + ((hi - lo) * k) // 4 for k in range(5)]
    path = tempfile.mkdtemp(prefix="p2c_manifest_aggp_")
    try:
        t = ManifestTable(path, key_col="user_id", n_buckets=4)
        apply_batch = t.append_parts(
            sort_key=("user_id", "updated_at"), arrival=("kafka_offset",)
        )

        def batch(b):
            up = F.col("updated_at")
            cond = (up >= bounds[b]) & (
                (up < bounds[b + 1]) if b < 3 else (up <= bounds[4])
            )
            apply_batch(ev.filter(cond), b)

        batch(0)
        t.add_agg_projection(
            spark,
            "by_user_type",
            ("user_id", "event_type"),
            {
                "n_events": ("count", "*"),
                "value_sum": ("sum", "value"),
                "first_event": ("min", "kafka_offset"),
                "last_event": ("max", "kafka_offset"),
            },
        )
        for b in range(1, 4):
            batch(b)
        m = t.current_manifest()
        proj_paths = [
            os.path.join(t.path, "data", f["name"])
            for f in m["files"]
            if f.get("proj") == "by_user_type"
        ]
        state_rows = spark.read.parquet(*proj_paths).count()
        base_rows = ev.count()
        if not 0 < state_rows < base_rows:
            raise RuntimeError(
                f"projection state ({state_rows}) not smaller than base "
                f"({base_rows}) — pre-aggregation bought nothing"
            )
        out = t.read_agg(spark, "by_user_type", fallback=False).select(
            "user_id",
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            "value_sum",
            F.col("first_event").cast("bigint").alias("first_event"),
            F.col("last_event").cast("bigint").alias("last_event"),
        )
        return _pin(out)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _horner_int(seed: str, str_expr: str) -> str:
    """DuckDB twin of the md5-first-8-hex integer (the value
    :func:`_horner_u` divides by 2^32) over an arbitrary VARCHAR
    expression — DSIR's bucket hash and Gumbel source."""
    h = f"md5('{seed}' || ':' || {str_expr})"
    expr = "0"
    for i in range(1, 9):
        expr = (f"(({expr}) * 16 + "
                f"(strpos('0123456789abcdef', substring({h}, {i}, 1)) - 1))")
    return f"CAST({expr} AS BIGINT)"


@register(
    "dsir_select_documents",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, unnest(list_concat(toks,
            CASE WHEN len(toks) >= 2
                 THEN list_transform(range(len(toks) - 1),
                      i -> toks[i + 1] || '_' || toks[i + 2])
                 ELSE CAST([] AS VARCHAR[]) END)) AS gram
      FROM w
    ),
    b AS (
      SELECT doc_id, ({_horner_int("dsir-v1", "gram")}) % 1024 AS b
      FROM g
    ),
    rawc AS (SELECT b, count(*) AS c FROM b GROUP BY b),
    tgtc AS (
      SELECT b.b, count(*) AS c
      FROM b JOIN documents d USING (doc_id)
      WHERE d.source = 'src1'
      GROUP BY b.b
    ),
    tot AS (SELECT (SELECT sum(c) FROM rawc) AS tr,
                   (SELECT coalesce(sum(c), 0) FROM tgtc) AS tt),
    lw AS (
      SELECT rawc.b,
             CAST(round((ln((coalesce(tgtc.c, 0) + 1.0)
                             / (tot.tt + 1024.0))
                       - ln((rawc.c + 1.0) / (tot.tr + 1024.0))) * 1e6)
                  AS BIGINT) AS lwq
      FROM rawc LEFT JOIN tgtc ON rawc.b = tgtc.b, tot
    ),
    sc AS (
      SELECT b.doc_id, SUM(lw.lwq) AS score
      FROM b JOIN lw ON b.b = lw.b
      GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(sc.score, 0) AS BIGINT) AS dsir_logw_q,
           CAST(coalesce(sc.score, 0)
                + CAST(round(-ln(-ln(
                      (({_horner_int("dsir-gumbel-v1",
                                     "CAST(d.doc_id AS VARCHAR)")}) + 0.5)
                      / 4294967296.0)) * 1e6) AS BIGINT)
                AS BIGINT) AS dsir_key_q
    FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
    ORDER BY dsir_key_q DESC, d.doc_id
    LIMIT 100
    """,
)
def dsir_select_documents(spark, sf_dir):
    """r13, C-tier growth (VERDICT r12 #5): DSIR — Data Selection via
    Importance Resampling (Xie et al. 2023, arXiv:2302.03169), the
    major public LLM-data-curation primitive the engine lacked. The
    target distribution is the ``source = 'src1'`` slice of the
    documents table; features are unigram+bigram grams hashed into
    1024 buckets with the repo's content-addressed md5 construction;
    per-bucket log importance weights (add-1 smoothing) quantize to
    integer micro-nats so per-document sums are order-independent and
    bit-exact across engines; selection is Gumbel top-k (k=100) with
    content-addressed noise from the doc id. The DuckDB oracle
    recomputes the ENTIRE model — hash, counts, weights, noise,
    selection — from the raw parquet, value-for-value.

    Scale (see operators/dsir.py): the only shuffles are two map-side-
    combinable groupBys over a ≤1024-key space; the fitted model rides
    the scoring plan as ONE literal array (element_at per gram, a pure
    map); top-k is TakeOrdered (per-partition heaps). Nothing
    data-proportional reaches the driver."""
    from postgre_to_clickhouse_spark.operators.dsir import dsir_select

    d = _t(spark, sf_dir, "documents")
    out = dsir_select(
        d, d.filter(F.col("source") == "src1"), k=100,
        n_buckets=1024, seed="dsir-v1", gumbel_seed="dsir-gumbel-v1",
    )
    return out.select(
        "doc_id",
        F.col("dsir_logw_q").cast("bigint").alias("dsir_logw_q"),
        F.col("dsir_key_q").cast("bigint").alias("dsir_key_q"),
    )


# r13 session 3 (VERDICT r12 #5's growth track): training-sequence
# packing — the step between curation and the trainer. The DuckDB
# oracle recomputes the ENTIRE closed-form assignment: the md5
# shard, the same BPE-ish token count, the per-shard prefix sum and
# the block arithmetic.
_PACK_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def _pack_oracle() -> str:
    from postgre_to_clickhouse_spark.queries.tierc5 import _horner_u

    return f"""
    WITH t AS (
      SELECT doc_id,
             CAST(length(regexp_extract_all(text, '{_PACK_TOKEN_RE}'))
                  AS BIGINT) AS n_tokens,
             CAST(floor({_horner_u('pack-v1', 'doc_id')} * 4) AS BIGINT)
                  AS pack_shard
      FROM documents),
    c AS (
      SELECT doc_id, pack_shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY pack_shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t)
    SELECT doc_id, pack_shard, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS pack_offset,
           CAST(floor((cum - n_tokens) / 512.0) AS BIGINT)
               AS pack_block_first,
           CAST(floor((cum - 1) / 512.0) AS BIGINT) AS pack_block_last,
           CAST(greatest(floor((cum - 1) / 512.0)
                - floor((cum - n_tokens) / 512.0) + 1, 0) AS BIGINT)
               AS pack_n_blocks
    FROM c
    """


@register("pack_training_sequences", oracle=_pack_oracle())
def pack_training_sequences(spark, sf_dir):
    """r13, C-tier growth: concat-and-chunk sequence packing with the
    FULL block span — extends the r4 `pack_sequences` query (first-
    token bin within `source` shards, tierc3.py) to what a trainer's
    attention-mask bookkeeping actually consumes: per document its
    content-addressed shard (md5, not a data column — layout/cluster/
    rerun-invariant), token offset in the shard stream, and the
    INCLUSIVE first/last block span (a straddling document belongs to
    every block it touches) — `operators/packing.pack_sequences`.
    Capacity 512 tokens, 4 shards, the engine's standard md5
    content addressing (layout/cluster/rerun-invariant; the oracle
    recomputes the md5 shard, the same BPE-ish token count, the
    prefix sum and the block arithmetic in DuckDB).

    Scale: one shuffle by shard + a shard-local ordered prefix sum —
    no global order, no single-partition window; shard count scales
    with the corpus (SCALE.md)."""
    from postgre_to_clickhouse_spark.operators.packing import pack_sequences
    from postgre_to_clickhouse_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))
    packed = pack_sequences(toks, "doc_id", "n_tokens",
                            capacity=512, n_shards=4, seed="pack-v1")
    return packed.select(
        "doc_id", "pack_shard", "n_tokens", "pack_offset",
        "pack_block_first", "pack_block_last", "pack_n_blocks")
