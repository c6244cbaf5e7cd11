"""cdc_ingest: the reference pipeline end to end, one client in a
closed loop.

Each batch of seeded change events is framed as Confluent Avro
(``USERS_AVRO_SCHEMA``), decoded with ``cdc.avro_py``, passed through
the README's materialized view (``ChDdlCatalog.apply_mv``) and
committed by ``ChDdlCatalog.insert`` into a ``ReplacingMergeTree(
updated_at)`` table. An analyst's ``FINAL`` point lookup of a key the
batch changed then goes over the ClickHouse HTTP endpoint
(``ch_http.serve_ch_http``) and must return the key's new latest row.
``OPTIMIZE TABLE users FINAL`` runs every ``MERGE_EVERY`` batches, so
parts build up and fold back and the live data stays bounded by the
key space. An operation is one change event; a batch's latency runs
from its generation until a reader sees it over the wire, which is
its freshness.
"""

from __future__ import annotations

import calendar
import datetime as dt
import http.client
import json
import os
import time
import urllib.parse

from perfbench import gen

BATCH = 500
N_USERS = 4000
MERGE_EVERY = 3
WARM_BATCHES = 3 * MERGE_EVERY + 1
PROBE_SQL = ("SELECT user_id, username, account_type, updated_at FROM shop.users "
             "FINAL WHERE user_id = {} FORMAT JSONEachRow")

# The target table is the README's shop.users with the version column
# declared, so FINAL and OPTIMIZE FINAL apply "max updated_at wins";
# the Kafka source table and the MV are the README's, verbatim.
USERS_DDL = """
CREATE TABLE shop.users
(
    user_id UInt32,
    username String,
    account_type String,
    updated_at DateTime,
    created_at DateTime,
    kafka_time Nullable(DateTime),
    kafka_offset UInt64
)
ENGINE = ReplacingMergeTree(updated_at)
ORDER BY (user_id);
"""

KAFKA_DDL = """
CREATE TABLE kafka_shop.kafka__users
(
    user_id UInt32,
    username String,
    account_type String,
    updated_at UInt64,
    created_at UInt64
)
ENGINE = Kafka
SETTINGS kafka_broker_list = 'broker:29092',
kafka_topic_list = 'shop.public.users',
kafka_group_name = 'clickhouse',
kafka_format = 'AvroConfluent',
format_avro_schema_registry_url='http://schema-registry:8081';
"""

MV_DDL = """
CREATE MATERIALIZED VIEW kafka_shop.consumer__users TO shop.users
(
    user_id UInt32,
    username String,
    account_type String,
    updated_at DateTime,
    created_at DateTime,
    kafka_time Nullable(DateTime),
    kafka_offset UInt64
) AS
SELECT
    user_id,
    username,
    account_type,
    toDateTime(updated_at / 1000000) AS updated_at,
    toDateTime(created_at / 1000000) AS created_at,
    _timestamp AS kafka_time,
    _offset AS kafka_offset
FROM kafka_shop.kafka__users;
"""

_SOURCE_SCHEMA = ("user_id int, username string, account_type string, "
                  "updated_at long, created_at long, _timestamp timestamp, "
                  "_offset long")


def post(port: int, query: str) -> tuple[int, bytes]:
    """One statement over a fresh HTTP connection to the endpoint."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", "/?query=" + urllib.parse.quote(query))
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def provision(storage_root: str, *ddl: str):
    from postgre_to_clickhouse_spark.ch_ddl import ChDdlCatalog

    cat = ChDdlCatalog(storage_root=storage_root)
    for stmt in ("CREATE DATABASE shop;", "CREATE DATABASE kafka_shop;", *ddl):
        cat.execute(stmt)
    return cat


def final_state(spark, storage_root: str) -> dict[int, tuple]:
    """``SELECT ... FINAL`` through a fresh catalog over the same
    storage, with the DDL replayed: what a restarted server reads."""
    cat = provision(storage_root, USERS_DDL)
    cat.storage_for("users")
    rows = cat.query(spark, "SELECT user_id, username, account_type, updated_at "
                            "FROM shop.users FINAL").collect()
    return {r.user_id: (r.username, r.account_type,
                        calendar.timegm(r.updated_at.utctimetuple()))
            for r in rows}


def storage_bytes(table) -> tuple[int, int]:
    """(bytes of every data file on disk, bytes of the live snapshot)."""
    data = os.path.join(table.path, "data")
    on_disk = {n: os.path.getsize(os.path.join(data, n)) for n in os.listdir(data)
               if n.endswith(".parquet")}
    live = sum(on_disk.get(f["name"], 0) for f in table.current_manifest()["files"])
    return sum(on_disk.values()), live


def run(r, result) -> None:
    from postgre_to_clickhouse_spark.cdc import avro_py
    from postgre_to_clickhouse_spark.cdc.avro import HEADER_LEN
    from postgre_to_clickhouse_spark.cdc.schemas import USERS_AVRO_SCHEMA
    from postgre_to_clickhouse_spark.ch_http import serve_ch_http

    spark = r.start_session()
    result.session_ready()
    store = r.path("store")
    cat = provision(store, USERS_DDL, KAFKA_DDL, MV_DDL)
    ep = serve_ch_http(spark, cat)
    schema = json.loads(USERS_AVRO_SCHEMA)
    stream = gen.ChangeStream(r.seed, N_USERS)
    acked: list[list[dict]] = []
    latest: dict[int, tuple] = {}
    state = {"in_bytes": 0, "batch": 0}

    def one_batch() -> tuple[int, float, float, str | None]:
        """(events, latency, lookup latency, error or None) of one batch."""
        i = state["batch"]
        state["batch"] += 1
        events = stream.batch(BATCH)
        frames = gen.confluent_frames(events, USERS_AVRO_SCHEMA, avro_py.encode_record)
        t_gen = time.perf_counter()
        if i % MERGE_EVERY == 0 and i > 0:
            cat.execute("OPTIMIZE TABLE shop.users FINAL", spark=spark)
        # Benchmark glue around avro_py.decode: the package's Confluent
        # entry points (decode_confluent_avro_arrow*) keep only the
        # value's fields, and the MV also reads the Kafka _timestamp
        # and _offset columns.
        rows = []
        for e, f in zip(events, frames):
            if f[0] != 0:
                raise ValueError("not a Confluent frame")
            rec, _ = avro_py.decode(f[HEADER_LEN:], schema)
            rows.append((rec["user_id"], rec["username"], rec["account_type"],
                         rec["updated_at"], rec["created_at"],
                         dt.datetime.fromtimestamp(e["ts_ms"] / 1000, dt.timezone.utc),
                         e["offset"]))
        src = spark.createDataFrame(rows, _SOURCE_SCHEMA)
        out = cat.apply_mv(spark, "consumer__users", {"kafka__users": src})
        cat.insert(spark, "users", out, batch_id=i)
        acked.append(events)
        latest.update(gen.expected_latest([events], latest))
        state["in_bytes"] += sum(len(f) for f in frames)
        # freshness: the batch is done when an analyst sees it
        key = events[-1]["user_id"]
        t_read = time.perf_counter()
        status, body = post(ep.port, PROBE_SQL.format(key))
        t_end = time.perf_counter()
        error = None
        if status != 200:
            error = f"lookup: HTTP {status}"
        else:
            want = latest[key]
            seen = [(g["username"], g["account_type"], g["updated_at"])
                    for g in map(json.loads, body.decode().splitlines())]
            if seen != [(want[0], want[1], gen.ch_datetime(want[2]))]:
                error = f"lookup user_id={key}: read {seen}, want {want}"
        return len(events), t_end - t_gen, t_end - t_read, error

    try:
        result.warm_curve, warm_errors = [], []
        for _ in range(WARM_BATCHES):
            t0 = time.perf_counter()
            error = one_batch()[3]
            result.warm_curve.append(time.perf_counter() - t0)
            warm_errors += [error] if error else []
        result.check("warm_up_lookups_match", not warm_errors, "; ".join(warm_errors))
        result.begin_window()
        # whole merge cycles, so every window holds the same share of
        # merges; a fixed count, so a slow host does not also change
        # which operations are sampled (about r.seconds on 4 vCPUs)
        for b in range(max(2, r.seconds // 4) * MERGE_EVERY):
            with result.op("batch", b // MERGE_EVERY) as op:
                op.units, op.latency, op.probe_s, op.error = one_batch()
                op.ok = op.error is None
        result.end_window()
    finally:
        ep.stop()

    want = gen.expected_latest(acked)
    got = final_state(spark, store)
    result.check("final_state_matches", got == want,
                 f"{len(got)} keys read, {len(want)} expected")
    t = cat.storage_for("users")
    on_disk, live = storage_bytes(t)
    result.layer.update({
        "manifest.commits": (t.current_version() + 1) / max(1, state["batch"]),
        "manifest.bytes_written_per_input_byte": on_disk / max(1, state["in_bytes"]),
        "manifest.bytes_stored_per_live_byte": on_disk / max(1, live),
    })

