"""Manifest-committed MERGE table (sinks/manifest.py): golden
convergence, snapshot isolation under crashes at every protocol step,
bucket-level pruning, and vacuum. The streaming pipelines' restart and
redelivery runs into these tables are in ``test_streaming.py``."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from postgre_to_clickhouse_spark.cdc import latest
from postgre_to_clickhouse_spark.cdc.fixtures import GOLDEN_ALL_VERSIONS, GOLDEN_LATEST
from postgre_to_clickhouse_spark.sinks.manifest import ManifestTable
from tests.test_ch_ddl import _USERS_VER_DDL, readme_catalog, readme_users


def _latest_map(df):
    return {
        r.user_id: (r.username, r.account_type, r.updated_at.strftime("%Y-%m-%d %H:%M:%S"))
        for r in df.collect()
    }


def _full(spark):
    return readme_users(spark)


def test_merge_converges_to_golden_and_is_idempotent(spark, tmp_path):
    """The README's ReplacingMergeTree(updated_at) through
    ``ChDdlCatalog.insert``: FINAL reads the golden, a replayed
    ``(app_id, batch_id)`` commits nothing, and a full redelivery under
    a new id adds a version but leaves FINAL unchanged."""
    cat = readme_catalog(str(tmp_path), _USERS_VER_DDL)
    t = cat.storage_for("users")
    final = "SELECT user_id, username, account_type, updated_at FROM shop.users FINAL"

    def final_map():
        return {
            (r.user_id, r.updated_at.strftime("%Y-%m-%d %H:%M:%S")): (r.username, r.account_type)
            for r in cat.query(spark, final).collect()
        }

    cat.insert(spark, "users", _full(spark), batch_id=0, app_id="s")
    assert final_map() == GOLDEN_ALL_VERSIONS
    v1 = t.current_version()
    cat.insert(spark, "users", _full(spark), batch_id=0, app_id="s")  # replay
    assert t.current_version() == v1
    cat.insert(spark, "users", _full(spark), batch_id=1, app_id="s")  # redelivery
    assert t.current_version() == v1 + 1
    assert final_map() == GOLDEN_ALL_VERSIONS


def test_empty_append_batch_commits_nothing(spark, tmp_path):
    """A micro-batch left empty (e.g. only deletes after ``unwrap``)
    writes no file and makes no version."""
    t = ManifestTable(str(tmp_path / "t"))
    sink = t.append_parts()
    sink(_full(spark), 0)
    v = t.current_version()
    sink(_full(spark).limit(0), 1)
    assert t.current_version() == v
    assert _latest_map(latest(t.read(spark))) == GOLDEN_LATEST


def test_crash_before_commit_link_preserves_snapshot(spark, tmp_path):
    """Data files written + manifest written to its temp name, but
    never linked to ``v{N}.json`` (crash just before the commit point):
    readers still see the old snapshot; replaying the batch converges;
    vacuum reclaims the orphan data files and the temp manifest."""
    t = ManifestTable(str(tmp_path / "t"))
    sink = t.append_parts()
    sink(_full(spark), 0)
    v_before = t.current_version()
    files_before = {f["name"] for f in t.current_manifest()["files"]}

    # simulate the crash: orphan data files + a temp manifest, never linked
    orphans = t._write_bucket_files(t.read(spark), list(range(t.n_buckets)))
    with open(os.path.join(t.path, "_manifests", "tmp.crashed"), "w") as f:
        json.dump({"version": v_before + 1, "files": orphans, "note": "crash"}, f)

    # reader is unaffected — no v{N+1}.json, so the old snapshot is current
    assert t.current_version() == v_before
    assert _latest_map(latest(t.read(spark))) == GOLDEN_LATEST

    # replay commits the very version the crash never linked; vacuum
    # removes the leavings
    sink(_full(spark), 1)
    assert t.current_version() == v_before + 1
    assert _latest_map(latest(t.read(spark))) == GOLDEN_LATEST
    removed = t.vacuum(keep_versions=1)
    assert {o["name"] for o in orphans} <= set(removed) | files_before
    manifests = set(os.listdir(os.path.join(t.path, "_manifests")))
    assert manifests == {f"v{v}.json" for v in range(v_before + 2)}  # temp manifest gone
    data_dir = os.path.join(t.path, "data")
    live = {f["name"] for f in t.current_manifest()["files"]}
    assert live <= set(os.listdir(data_dir))
    assert _latest_map(latest(t.read(spark))) == GOLDEN_LATEST  # still readable post-vacuum


def test_time_travel_reads_retained_versions(spark, tmp_path):
    """VERSION AS OF semantics: every retained snapshot reads back
    exactly as committed, even after later merges change the table."""
    t = ManifestTable(str(tmp_path / "t"))
    sink = t.append_parts()
    full = _full(spark)
    first = full.orderBy("kafka_offset").limit(3)
    sink(first, 0)
    v0_rows = sorted(map(tuple, t.read(spark).collect()))
    sink(full, 1)
    assert t.current_version() == 1
    # the old snapshot is unchanged; the new one differs
    assert sorted(map(tuple, t.read(spark, version=0).collect())) == v0_rows
    assert t.read(spark).count() >= t.read(spark, version=0).count()
    assert _latest_map(latest(t.read(spark))) == GOLDEN_LATEST
    import pytest as _pytest

    with _pytest.raises(ValueError):
        t.manifest_at(99)


# -- compaction + TTL (r5: ClickHouse background-merge / TTL parity) -------
def _multiset(df):
    return sorted(map(tuple, df.collect()))


def test_compact_reduces_files_preserves_content(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    sink = t.append_parts()  # part-per-batch ingest -> buckets fragment
    full = _full(spark)
    # split by arrival (every user in every batch) -> same buckets hit thrice
    for i, cond in enumerate(["kafka_offset % 3 = 0", "kafka_offset % 3 = 1", "kafka_offset % 3 = 2"]):
        sink(full.filter(cond), i)
    before = _multiset(t.read(spark))
    m0 = t.current_manifest()
    assert len(m0["files"]) > len({f["bucket"] for f in m0["files"]})  # fragmented
    v = t.compact(spark)
    assert v == t.current_version() and v > m0["version"]
    m1 = t.current_manifest()
    per_bucket = {}
    for f in m1["files"]:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    assert _multiset(t.read(spark)) == before  # byte-level content preserved
    assert _latest_map(latest(t.read(spark))) == GOLDEN_LATEST
    # idempotent: nothing left to compact -> version unchanged
    assert t.compact(spark) == v


def test_optimize_final_collapses_to_latest(spark, tmp_path):
    """The README's users as ``ReplacingMergeTree(updated_at) ORDER BY
    (user_id)``, inserted as three arrival slices so each user's
    history spans parts: ``OPTIMIZE TABLE ... FINAL`` collapses the
    snapshot itself to the latest row per user."""
    cat = readme_catalog(
        str(tmp_path), _USERS_VER_DDL.replace("ORDER BY (user_id, updated_at)", "ORDER BY (user_id)")
    )
    t = cat.storage_for("users")
    for i in range(3):
        cat.insert(spark, "users", _full(spark).filter(f"kafka_offset % 3 = {i}"), batch_id=i)
    raw_before = t.read(spark).count()
    v = t.current_version()
    cat.execute("OPTIMIZE TABLE shop.users FINAL", spark=spark)
    assert t.current_version() == v + 1
    assert t.read(spark).count() == len(GOLDEN_LATEST) < raw_before
    assert _latest_map(t.read(spark)) == GOLDEN_LATEST


def test_ttl_delete_is_transactional_and_pruned(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    t.append_parts()(_full(spark), 0)
    v0 = t.current_version()
    rows = t.read(spark).select("updated_at").collect()
    cutoff = sorted(r.updated_at for r in rows)[len(rows) // 2]
    n_old = sum(1 for r in rows if r.updated_at < cutoff)
    assert n_old > 0
    cut_s = cutoff.strftime("%Y-%m-%d %H:%M:%S")
    v1 = t.delete_where(
        spark, f"updated_at < TIMESTAMP '{cut_s}'", where=[("updated_at", None, cut_s)]
    )
    assert v1 == v0 + 1
    after = t.read(spark)
    assert after.count() == len(rows) - n_old
    assert after.filter(F.col("updated_at") < F.lit(cutoff)).count() == 0
    # time travel: the pre-TTL snapshot is still byte-stable
    assert t.read(spark, version=v0).count() == len(rows)
    # no-match delete is a no-op version-wise
    assert t.delete_where(spark, "user_id < 0") == v1


def test_append_ingest_defers_dedup_to_read_and_compact(spark, tmp_path):
    """A full redelivery appends parts (no merge read): the FINAL read
    resolves versions across the redundant parts, and ``OPTIMIZE
    TABLE ... FINAL`` folds them away in storage."""
    cat = readme_catalog(str(tmp_path), _USERS_VER_DDL)
    t = cat.storage_for("users")
    cat.insert(spark, "users", _full(spark), batch_id=0)
    cat.insert(spark, "users", _full(spark), batch_id=1)
    final = "SELECT user_id, username, account_type, updated_at, kafka_offset FROM shop.users FINAL"
    assert _latest_map(latest(cat.query(spark, final))) == GOLDEN_LATEST
    raw = t.read(spark).count()
    cat.execute("OPTIMIZE TABLE shop.users FINAL", spark=spark)
    assert t.read(spark).count() == len(GOLDEN_ALL_VERSIONS) < raw
    assert _latest_map(latest(t.read(spark))) == GOLDEN_LATEST


def test_append_parts_schema_evolution(spark, tmp_path):
    """r6: a batch carrying a NEW column widens the table (ClickHouse
    ALTER ADD COLUMN / Avro evolved-field semantics) — old rows read
    back as NULL in the new column, later part files mix with earlier
    ones via mergeSchema, and latest-wins still resolves correctly."""
    from postgre_to_clickhouse_spark.sinks.manifest import ManifestTable

    t = ManifestTable(str(tmp_path / "tbl"), key_col="user_id", n_buckets=4)
    apply = t.append_parts(sort_key=("user_id", "updated_at"), arrival=("kafka_offset",))
    b1 = spark.createDataFrame(
        [(1, "alice", 100, 1), (2, "bob", 100, 2)],
        "user_id long, username string, updated_at long, kafka_offset long",
    )
    apply(b1, 0)
    # batch 2 adds an 'email' column and updates user 2
    b2 = spark.createDataFrame(
        [(2, "bob2", 200, 3, "bob@x"), (3, "carol", 150, 4, "carol@x")],
        "user_id long, username string, updated_at long, kafka_offset long, email string",
    )
    apply(b2, 1)
    out = {r.user_id: r for r in latest(
        t.read(spark), ("user_id",), ("updated_at", "kafka_offset")
    ).collect()}
    assert out[1].username == "alice" and out[1].email is None
    assert out[2].username == "bob2" and out[2].email == "bob@x"
    assert out[3].email == "carol@x"
    # batch 3 MISSING the new column still merges (null-filled)
    b3 = spark.createDataFrame(
        [(4, "dave", 100, 5)],
        "user_id long, username string, updated_at long, kafka_offset long",
    )
    apply(b3, 2)
    out2 = {r.user_id: r for r in latest(
        t.read(spark), ("user_id",), ("updated_at", "kafka_offset")
    ).collect()}
    assert out2[4].email is None and out2[2].email == "bob@x"
    # compaction over mixed-schema parts keeps results identical
    t.compact(spark)
    out3 = {r.user_id: r for r in latest(
        t.read(spark), ("user_id",), ("updated_at", "kafka_offset")
    ).collect()}
    assert {u: (r.username, r.email) for u, r in out2.items()} == {
        u: (r.username, r.email) for u, r in out3.items()
    }


def test_zone_map_stats_prune_files_and_preserve_results(spark, tmp_path):
    """r7 minmax data skipping: per-file [min, max] land in the
    manifest, range reads prune files that PROVABLY cannot match, and
    the pruned read + exact filter equals the full read + filter."""
    t = ManifestTable(
        str(tmp_path / "t"), key_col="user_id", n_buckets=2,
        stats_cols=("updated_at", "user_id"),
    )
    sink = t.append_parts()
    full = _full(spark)
    # four batches with DISJOINT user_id ranges → disjoint zone maps
    ids = sorted(r.user_id for r in full.select("user_id").distinct().collect())
    q = max(1, len(ids) // 4)
    for b in range(4):
        lo_ids = set(ids[b * q:] if b == 3 else ids[b * q:(b + 1) * q])
        sink(full.filter(F.col("user_id").isin(lo_ids)), b)

    m = t.current_manifest()
    assert all("stats" in f and "user_id" in f["stats"] for f in m["files"])

    lo, hi = ids[0], ids[q - 1]  # exactly batch 0's id range
    pruned = t.files_for([("user_id", lo, hi)])
    assert 0 < len(pruned) < len(m["files"]), "zone maps pruned nothing"

    got = t.read(spark, where=[("user_id", lo, hi)]).filter(
        (F.col("user_id") >= lo) & (F.col("user_id") <= hi)
    )
    want = t.read(spark).filter((F.col("user_id") >= lo) & (F.col("user_id") <= hi))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # all-pruned range: empty result, schema intact
    none = t.read(spark, where=[("user_id", max(ids) + 10, max(ids) + 20)])
    assert none.count() == 0 and none.columns == t.read(spark).columns

    # compaction rewrites files — zone maps must survive it
    t.compact(spark)
    assert all("stats" in f for f in t.current_manifest()["files"])


def test_zone_map_missing_stats_files_always_scanned(spark, tmp_path):
    """Files committed WITHOUT stats (pre-zone-map manifests) must
    never be pruned — pruning is an optimization, not a correctness
    dependency."""
    t0 = ManifestTable(str(tmp_path / "t"), key_col="user_id", n_buckets=2)
    t0.append_parts()(_full(spark), 0)  # no stats_cols → no stats recorded
    t = ManifestTable(
        str(tmp_path / "t"), key_col="user_id", n_buckets=2,
        stats_cols=("user_id",),
    )
    m = t.current_manifest()
    assert all("stats" not in f for f in m["files"])
    assert len(t.files_for([("user_id", -10, -5)])) == len(m["files"])


def test_ttl_uses_zone_maps_and_preserves_semantics(spark, tmp_path):
    """A TTL delete on a zone-mapped time column: the hit-finding scan
    is range-pruned to files that can reach below the cutoff, and the
    delete result is identical to the unpruned definition."""
    import datetime as dt

    t = ManifestTable(
        str(tmp_path / "t"), key_col="uid", n_buckets=2, stats_cols=("ts",)
    )
    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(days=i // 10)) for i in range(40)]
    df = spark.createDataFrame(rows, "uid long, ts timestamp")
    sink = t.append_parts(sort_key=("uid", "ts"), arrival=("uid",))
    for b in range(4):  # time-ordered batches → disjoint ts zone maps
        sink(df.filter((F.col("uid") >= b * 10) & (F.col("uid") < (b + 1) * 10)), b)

    cutoff = "2024-01-02 00:00:00"
    pruned = t.files_for([("ts", None, cutoff)])
    assert 0 < len(pruned) < len(t.current_manifest()["files"])

    t.delete_where(spark, f"ts < TIMESTAMP '{cutoff}'", where=[("ts", None, cutoff)])
    note = t.current_manifest()["note"]
    scanned, total = map(int, note.split("scanned=")[1].split("/"))
    assert scanned == len(pruned) < total, note
    kept = sorted(r.uid for r in t.read(spark).collect())
    assert kept == [i for i in range(40) if base + dt.timedelta(days=i // 10) >= dt.datetime(2024, 1, 2)]


def test_stat_val_encoding_is_order_preserving_and_total(spark, tmp_path):
    """r8 ADVICE fixes on _stat_val: Decimal bounds must compare
    numerically (str(Decimal) sorts '100.00' < '20'); DateType columns
    must not crash the write path (date.isoformat takes no sep arg);
    unknown types are refused loudly. r9 ADVICE: STRING bounds now stay
    RAW (blanket padding was non-monotone for genuine string columns —
    see test_string_column_ts_shaped_values_not_mispruned); a
    timestamp-literal probe is padded per-comparison, only against a
    datetime column's padded bound (_probe_forms/_probe_vs_bound)."""
    import datetime as dt
    import decimal

    import pytest

    sv = ManifestTable._stat_val
    # Decimal → float, so 20 < 100 (str form would invert)
    assert sv(decimal.Decimal("100.00")) == 100.0
    assert sv(decimal.Decimal("20")) < sv(decimal.Decimal("100.00"))
    # date: no crash, fixed-width ISO
    assert sv(dt.date(2024, 3, 7)) == "2024-03-07"
    # datetime bounds are fixed-width padded; STRING values stay raw
    bound = sv(dt.datetime(2024, 1, 2, 0, 0, 0))
    assert bound == "2024-01-02 00:00:00.000000"
    assert sv("2024-01-02 00:00:00") == "2024-01-02 00:00:00"
    assert sv("not a timestamp") == "not a timestamp"
    # probe forms: raw always; padded only for timestamp literals
    raw, padded = ManifestTable._probe_forms("2024-01-02T00:00:00.5")
    assert (raw, padded) == ("2024-01-02T00:00:00.5", "2024-01-02 00:00:00.500000")
    assert ManifestTable._probe_forms("plain")[1] is None
    # per-bound choice: padded vs a datetime bound, raw vs a string bound
    assert ManifestTable._probe_vs_bound(raw, padded, bound) == padded
    assert ManifestTable._probe_vs_bound(raw, padded, "2024-01-02 00:00:00+00:00") == raw
    with pytest.raises(TypeError):
        sv(object())

    # end-to-end: date + decimal stats columns through append/read
    t = ManifestTable(
        str(tmp_path / "t"), key_col="uid", n_buckets=1,
        stats_cols=("d", "amt"),
    )
    rows = [
        (1, dt.date(2024, 1, 1), decimal.Decimal("20.00")),
        (2, dt.date(2024, 1, 5), decimal.Decimal("100.00")),
        (3, dt.date(2024, 2, 1), decimal.Decimal("7.50")),
    ]
    df = spark.createDataFrame(rows, "uid long, d date, amt decimal(10,2)")
    sink = t.append_parts(sort_key=("uid", "d"), arrival=("uid",))
    for b in range(3):  # one row per file → per-row zone maps
        sink(df.filter(F.col("uid") == b + 1), b)

    # decimal range [20, 100] must keep files 1 and 2 (str compare
    # would have pruned the 20.00 file against lo='100.00')
    kept = t.files_for([("amt", decimal.Decimal("20"), decimal.Decimal("100"))])
    assert len(kept) == 2
    got = t.read(spark, where=[("amt", decimal.Decimal("20"), decimal.Decimal("100"))])
    assert sorted(r.uid for r in got.collect()) == [1, 2]
    # date upper bound inclusive at an exact file min
    assert sorted(
        r.uid
        for r in t.read(
            spark, where=[("d", dt.date(2024, 1, 5), None)]
        ).collect()
    ) == [2, 3]


def test_inclusive_ts_bound_at_whole_second_not_pruned(spark, tmp_path):
    """A string probe at a whole-second boundary must NOT prune a file
    whose min equals that instant (r8 ADVICE: padding asymmetry made
    '…00.000000' <= '…00' false)."""
    import datetime as dt

    t = ManifestTable(
        str(tmp_path / "t"), key_col="uid", n_buckets=1, stats_cols=("ts",)
    )
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2, 0, 0, 0))], "uid long, ts timestamp"
    )
    t.append_parts(sort_key=("uid", "ts"), arrival=("uid",))(df, 0)
    # inclusive upper bound exactly at the file's min
    assert len(t.files_for([("ts", None, "2024-01-02 00:00:00")])) == 1
    assert t.read(spark, where=[("ts", None, "2024-01-02 00:00:00")]).count() == 1


def test_string_column_ts_shaped_values_not_mispruned(spark, tmp_path):
    """r9 ADVICE (medium): a GENUINE string column holding both
    '…00:00:00' and '…00:00:00+00:00' used to get its min padded
    ('…00.000000' sorts AFTER the raw '+00:00' form since '+' < '.'),
    encoding min > max and silently dropping matching rows from
    read(where=…). String bounds now stay raw; the probe stays raw
    against them."""
    t = ManifestTable(
        str(tmp_path / "t"), key_col="uid", n_buckets=1, stats_cols=("s",)
    )
    df = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00"), (2, "2024-01-02 00:00:00+00:00")],
        "uid long, s string",
    )
    t.append_parts(sort_key=("uid", "s"), arrival=("uid",))(df, 0)
    (f,) = t.current_manifest()["files"]
    lo, hi = f["stats"]["s"]
    assert lo <= hi  # raw bounds are monotone again
    assert lo == "2024-01-02 00:00:00" and hi == "2024-01-02 00:00:00+00:00"
    # inclusive probe equal to an actual row value must scan the file
    probe = [("s", "2024-01-02 00:00:00", "2024-01-02 00:00:00")]
    assert len(t.files_for(probe)) == 1
    got = t.read(spark, where=probe).filter(F.col("s") == "2024-01-02 00:00:00")
    assert [r.uid for r in got.collect()] == [1]


def test_token_probe_contract_refuses_unindexable_tokens(spark, tmp_path):
    """r9 (VERDICT r8 #1a + ADVICE): a token probe the write-side
    lowercase [a-z0-9]+ tokenizer could never have produced must raise,
    not silently prune files that do contain the token."""
    import pytest

    t = ManifestTable(
        str(tmp_path / "t"), key_col="uid", n_buckets=1, token_bloom_cols=("txt",)
    )
    df = spark.createDataFrame([(1, "Hello World")], "uid long, txt string")
    t.append_parts(sort_key=("uid", "txt"), arrival=("uid",))(df, 0)
    for bad in ("Foo", "foo bar", "", "naïve", 7, None):
        with pytest.raises((ValueError, TypeError)):
            t.files_for(tokens=[("txt", bad)])
    # the normalized single token is accepted and never prunes its file
    assert len(t.files_for(tokens=[("txt", "hello")])) == 1


def test_bloom_positions_jvm_python_mirror(spark):
    """r9 (VERDICT r8 #1b): the write side computes bloom positions
    JVM-side (F.sha2 + F.conv) and the probe side in hashlib — the two
    implementations MUST agree on every value or pruning silently goes
    false-negative. Checked over a value grid covering ints (sign,
    zero, 2^31 edges), plain/unicode/long strings, and tokens."""
    import random

    rnd = random.Random(424242)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 _-ÄöüßÉ中文🙂\t"
    fuzz = [
        "".join(rnd.choice(alphabet) for _ in range(rnd.randrange(1, 40)))
        for _ in range(150)
    ] + [rnd.randrange(-(2**62), 2**62) for _ in range(50)]
    values = [
        0, 1, -1, 7, 42, 2**31 - 1, -(2**31), 123456789012345,
        "", "a", "hello", "user_42", "2024-01-02 00:00:00",
        "x" * 300, "ünïcodé-ştr", "tab\tsep", "line\nbreak",
        *fuzz,
    ]
    for m in (ManifestTable._BLOOM_BITS, ManifestTable._TBLOOM_BITS):
        df = spark.createDataFrame(
            [(str(v),) for v in values], "v string"
        ).withColumn("pos", ManifestTable._bloom_pos_expr("v", m))
        jvm = {r["v"]: list(r["pos"]) for r in df.collect()}
        for v in values:
            py = ManifestTable._bloom_positions(v, m)
            assert jvm[str(v)] == py, f"JVM/Python bloom mismatch for {v!r} m={m}"
    # token path: every distinct lowercase token's positions mirror too
    text = "The quick brown-fox 42 jumps_over; the lazy DOG 42"
    toks = sorted({t for t in __import__("re").split(r"[^a-z0-9]+", text.lower()) if t})
    df = spark.createDataFrame([(text,)], "txt string").withColumn(
        "pos", ManifestTable._token_pos_expr("txt", ManifestTable._TBLOOM_BITS)
    )
    flat = list(df.collect()[0]["pos"])
    k = ManifestTable._BLOOM_K
    got_sets = {tuple(flat[i : i + k]) for i in range(0, len(flat), k)}
    want_sets = {
        tuple(ManifestTable._bloom_positions(t, ManifestTable._TBLOOM_BITS))
        for t in toks
    }
    assert got_sets == want_sets


def test_bloom_pruning_never_false_negative_property(spark, tmp_path):
    """r9 (VERDICT r8 #1c): pruned read + exact filter ≡ unpruned read
    + exact filter, for EVERY present value and a band of absent ones,
    over seeded-random data — a false negative (file wrongly pruned)
    changes the left side; false positives only cost a scan. Also
    asserts the index earns its keep: absent-value probes prune files."""
    import random

    rnd = random.Random(90210)
    words = ["alpha", "bravo", "carol", "delta", "echo99", "fox", "golf", "hotel"]
    rows = [
        (
            i,
            rnd.randrange(10_000),
            " ".join(rnd.choice(words) for _ in range(rnd.randrange(1, 6))),
        )
        for i in range(120)
    ]
    t = ManifestTable(
        str(tmp_path / "t"),
        key_col="rid",
        n_buckets=2,
        bloom_cols=("val",),
        token_bloom_cols=("txt",),
    )
    df = spark.createDataFrame(rows, "rid long, val long, txt string")
    sink = t.append_parts(sort_key=("rid", "val"), arrival=("rid",))
    for b in range(4):
        sink(df.filter(F.col("rid") % 4 == b), b)
    n_files = len(t.current_manifest()["files"])
    assert n_files >= 8

    # equality probes: every present value + absent values
    present_vals = sorted({v for _, v, _ in rows})
    for v in present_vals[:25] + [10_001, 99_999, -5]:
        kept = t.files_for(equals=[("val", v)])
        got = sorted(
            r.rid for r in t.read(spark, equals=[("val", v)])
            .filter(F.col("val") == v).collect()
        )
        want = sorted(rid for rid, val, _ in rows if val == v)
        assert got == want, f"bloom false-negative for val={v}"
        assert len(kept) <= n_files
    absents = [t.files_for(equals=[("val", v)]) for v in (10_001, 99_999, -5)]
    assert min(len(k) for k in absents) < n_files  # absent values prune

    # token probes: every vocabulary token + absent tokens
    for tok in words + ["zulu", "absent0"]:
        got = sorted(
            r.rid for r in t.read(spark, tokens=[("txt", tok)])
            .filter(F.array_contains(F.split(F.lower("txt"), r"[^a-z0-9]+"), tok))
            .collect()
        )
        want = sorted(rid for rid, _, txt in rows if tok in txt.split())
        assert got == want, f"token-bloom false-negative for {tok!r}"
    assert len(t.files_for(tokens=[("txt", "zulu")])) < n_files


def test_projection_layout_chosen_and_results_identical(spark, tmp_path):
    """r9 (VERDICT r8 #3): a projection sorted by a column the base
    bucket layout interleaves must (a) be chosen at read time for range
    probes on that column, (b) prune where base cannot, (c) return
    identical rows, and (d) survive part-merge compaction (which must
    rebuild it and drop the consumed parts' projection files)."""
    t = ManifestTable(
        str(tmp_path / "t"), key_col="uid", n_buckets=4, stats_cols=("seq",)
    )
    df = spark.range(200).select(
        F.col("id").alias("uid"), F.col("id").alias("seq"),
        (F.col("id") * 3 % 7).alias("v"),
    )
    sink = t.append_parts(sort_key=("uid", "seq"), arrival=("uid",))
    sink(df.filter(F.col("uid") % 2 == 0), 0)  # pre-projection part
    t.add_projection(spark, "by_seq", "seq", n_files=4)  # backfills
    sink(df.filter(F.col("uid") % 2 == 1), 1)  # post-projection part

    probe = [("seq", 40, 59)]
    layout, files = t.choose_layout(where=probe)
    assert layout == "by_seq"
    base_pruned = t.files_for(probe)
    base_total = len([f for f in t.current_manifest()["files"] if not f.get("proj")])
    # every batch spans the seq range → base zone maps cannot prune
    assert len(base_pruned) == base_total
    assert len(files) < base_total
    got = sorted(
        r.uid for r in t.read(spark, where=probe)
        .filter((F.col("seq") >= 40) & (F.col("seq") <= 59)).collect()
    )
    assert got == list(range(40, 60))

    v_before = t.current_version()
    t.compact(spark)  # part-merge mode: rebuilds base + projection
    assert t.current_version() > v_before
    m = t.current_manifest()
    parts = {f.get("part") for f in m["files"] if not f.get("proj")}
    assert len(parts) == 1  # one merged part
    assert t._projection_files(m, "by_seq") is not None  # still complete
    layout2, files2 = t.choose_layout(where=probe)
    assert layout2 == "by_seq"
    got2 = sorted(
        r.uid for r in t.read(spark, where=probe)
        .filter((F.col("seq") >= 40) & (F.col("seq") <= 59)).collect()
    )
    assert got2 == list(range(40, 60))
    assert t.read(spark).count() == 200  # base unaffected


def test_projection_incomplete_falls_back_to_base(spark, tmp_path):
    """A projection that does not cover every part (e.g. a part written
    by an engine version without the projection) must be unusable —
    reads fall back to base rather than silently dropping rows."""
    t = ManifestTable(
        str(tmp_path / "t"), key_col="uid", n_buckets=2, stats_cols=("seq",)
    )
    df = spark.range(40).select(F.col("id").alias("uid"), F.col("id").alias("seq"))
    sink = t.append_parts(sort_key=("uid", "seq"), arrival=("uid",))
    t.add_projection(spark, "by_seq", "seq", n_files=2)
    sink(df.filter(F.col("uid") < 20), 0)
    # simulate a foreign writer: commit a part with NO projection files
    m = t.current_manifest()
    foreign = t._write_bucket_files(df.filter(F.col("uid") >= 20), None)
    t._commit(m, m["files"] + [{**f, "part": "foreign"} for f in foreign], "foreign append")
    m = t.current_manifest()
    assert t._projection_files(m, "by_seq") is None
    layout, _ = t.choose_layout(where=[("seq", 0, 5)])
    assert layout == "base"
    got = sorted(
        r.uid for r in t.read(spark, where=[("seq", 0, 5)])
        .filter(F.col("seq") <= 5).collect()
    )
    assert got == [0, 1, 2, 3, 4, 5]


def test_projection_guards_bucket_scoped_mutations(spark, tmp_path):
    """delete_where on a projection-carrying table must refuse loudly
    (bucket-scoped rewrites would strand projection rows), not corrupt
    silently."""
    import pytest

    t = ManifestTable(str(tmp_path / "t"), key_col="uid", n_buckets=2)
    df = spark.range(10).select(F.col("id").alias("uid"), F.col("id").alias("seq"))
    t.append_parts(sort_key=("uid", "seq"), arrival=("uid",))(df, 0)
    t.add_projection(spark, "by_seq", "seq")
    with pytest.raises(NotImplementedError):
        t.delete_where(spark, "seq < 5")


def test_drop_projection_reenables_mutations_and_vacuums(spark, tmp_path):
    """DROP PROJECTION removes the projection's files from the new
    snapshot (older versions stay time-travel-readable until vacuum),
    re-enables delete_where, and leaves base results untouched."""
    t = ManifestTable(
        str(tmp_path / "t"), key_col="uid", n_buckets=2, stats_cols=("seq",)
    )
    df = spark.range(50).select(F.col("id").alias("uid"), F.col("id").alias("seq"))
    t.append_parts(sort_key=("uid", "seq"), arrival=("uid",))(df, 0)
    t.add_projection(spark, "by_seq", "seq", n_files=2)
    v_with = t.current_version()
    assert any(f.get("proj") for f in t.current_manifest()["files"])

    t.drop_projection("by_seq")
    assert not any(f.get("proj") for f in t.current_manifest()["files"])
    assert not t.projections
    # old version still carries (and can choose) the projection's files
    assert any(f.get("proj") for f in t.manifest_at(v_with)["files"])
    # mutations work again; results correct
    t.delete_where(spark, "seq >= 40")
    assert t.read(spark).count() == 40
    # a fresh handle sees the committed (empty) projection definitions
    assert not ManifestTable(str(tmp_path / "t"), key_col="uid").projections
    # vacuum reclaims the dropped projection's files with the old versions
    t.vacuum(keep_versions=1)
    live = {f["name"] for f in t.current_manifest()["files"]}
    data = set(os.listdir(os.path.join(t.path, "data")))
    assert live <= data and not any(n.startswith("p-by_seq-") for n in data)


def test_update_where_mutates_only_matching_rows(spark, tmp_path):
    """r9: ALTER TABLE ... UPDATE (CH mutations) — assignments hit only
    predicate-true rows, evaluate against the ORIGINAL row
    (simultaneous, not sequential), NULL-predicate rows survive
    untouched, and the pre-mutation snapshot stays readable."""
    t = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    t.append_parts()(_full(spark), 0)
    v0 = t.current_version()
    before = {
        (r.user_id, r.kafka_offset): (r.username, r.account_type)
        for r in t.read(spark).collect()
    }
    v1 = t.update_where(
        spark,
        {"username": "upper(username)"},
        "account_type = 'Gold'",
    )
    assert v1 == v0 + 1
    after = {
        (r.user_id, r.kafka_offset): (r.username, r.account_type)
        for r in t.read(spark).collect()
    }
    assert set(after) == set(before)
    for k, (u, a) in before.items():
        want = u.upper() if a == "Gold" else u
        assert after[k] == (want, a), k
    # time travel: pre-update snapshot intact
    assert {
        (r.user_id, r.kafka_offset): (r.username, r.account_type)
        for r in t.read(spark, version=v0).collect()
    } == before
    # simultaneous semantics: swapping two columns through each other
    v2 = t.update_where(
        spark,
        {"username": "account_type", "account_type": "username"},
        "account_type = 'Gold'",
    )
    swapped = {
        (r.user_id, r.kafka_offset): (r.username, r.account_type)
        for r in t.read(spark).collect()
    }
    for k, (u, a) in after.items():
        want = (a, u) if a == "Gold" else (u, a)
        assert swapped[k] == want, k
    # NULL-predicate rows are untouched (mixed true/NULL in one bucket)
    some_uid = next(iter(before))[0]
    t.update_where(
        spark,
        {"username": "'hit'"},
        f"CASE WHEN user_id = {some_uid} THEN true ELSE CAST(NULL AS BOOLEAN) END",
    )
    final = {
        (r.user_id, r.kafka_offset): r.username for r in t.read(spark).collect()
    }
    for k in swapped:
        assert final[k] == ("hit" if k[0] == some_uid else swapped[k][0]), k
    # no-match update is a version no-op
    assert t.update_where(spark, {"username": "'x'"}, "user_id < 0") == t.current_version()
    assert v2 == v1 + 1


def test_update_where_refusals_and_bucket_pruning(spark, tmp_path):
    """Key-column and unknown-column updates refuse loudly; projection
    tables refuse (CH DROP/MATERIALIZE PROJECTION applies); untouched
    buckets carry into the new manifest BY REFERENCE."""
    import pytest

    t = ManifestTable(str(tmp_path / "t"), n_buckets=8)
    t.append_parts()(_full(spark), 0)
    with pytest.raises(ValueError, match="bucket key"):
        t.update_where(spark, {"user_id": "user_id + 1"}, "true")
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where(spark, {"nope": "1"}, "true")

    before = {f["name"] for f in t.current_manifest()["files"]}
    key = t.read(spark).select("user_id").distinct().collect()[0][0]
    t.update_where(spark, {"username": "'z'"}, f"user_id = {key}")
    after = t.current_manifest()["files"]
    touched_bucket = (
        t.read(spark).filter(F.col("user_id") == key)
        .select(F.pmod(F.xxhash64(F.col("user_id")), F.lit(8)).cast("int"))
        .distinct().collect()[0][0]
    )
    for f in after:
        if f["bucket"] != touched_bucket:
            assert f["name"] in before, "untouched bucket was rewritten"
        else:
            assert f["name"] not in before

    tp = ManifestTable(str(tmp_path / "p"), key_col="user_id", n_buckets=2)
    tp.append_parts(sort_key=("user_id", "updated_at"))(_full(spark), 0)
    tp.add_projection(spark, "by_time", "updated_at", n_files=2)
    with pytest.raises(NotImplementedError, match="projection"):
        tp.update_where(spark, {"username": "'z'"}, "true")


def test_update_where_zone_map_pruned_hit_finding(spark, tmp_path):
    """A mutation whose predicate lives in a time slice must hit-scan
    only the files whose zone maps can reach that slice (the commit
    note records scanned=M/N), and refreshed stats on rewritten files
    keep pruning correct for later reads."""
    t = ManifestTable(
        str(tmp_path / "t"), key_col="user_id", n_buckets=2,
        stats_cols=("updated_at",),
    )
    sink = t.append_parts()
    full = _full(spark)
    times = sorted(r.updated_at for r in full.select("updated_at").collect())
    cut = times[len(times) // 4]
    sink(full.filter(F.col("updated_at") <= F.lit(cut)), 0)
    sink(full.filter(F.col("updated_at") > F.lit(cut)), 1)
    n_files = len(t.current_manifest()["files"])
    cut_s = cut.strftime("%Y-%m-%d %H:%M:%S.%f")
    t.update_where(
        spark,
        {"username": "concat(username, '!')"},
        f"updated_at <= TIMESTAMP '{cut_s}'",
        where=[("updated_at", None, cut_s)],
    )
    note = t.current_manifest()["note"]
    scanned, total = map(int, note.split("scanned=")[1].split("/"))
    assert total == n_files and 0 < scanned < total, note
    # every early row got the suffix, every late row did not
    got = t.read(spark).select("username", "updated_at").collect()
    for r in got:
        assert r.username.endswith("!") == (r.updated_at <= cut), r


def test_ttl_rollup_collapses_expired_groups(spark, tmp_path):
    """r9: CH `TTL ... GROUP BY ... SET v = sum(v)` — expired rows
    collapse to one aggregate row per group (sum where SET says so,
    deterministic min elsewhere, max(ts) for the TTL column), live rows
    are untouched, and re-running is content-idempotent."""
    t = ManifestTable(str(tmp_path / "t"), n_buckets=4)
    t.append_parts()(_full(spark), 0)
    rows = t.read(spark).collect()
    times = sorted(r.updated_at for r in rows)
    cut = times[len(times) // 2]
    cut_s = cut.strftime("%Y-%m-%d %H:%M:%S.%f")
    expired = [r for r in rows if r.updated_at < cut]
    live = [r for r in rows if r.updated_at >= cut]
    assert expired and live
    v = t.apply_ttl_rollup(
        spark, "updated_at", cut_s,
        group_by=("user_id",),
        set_exprs={"kafka_offset": "sum(kafka_offset)"},
    )
    assert v == t.current_version()
    after = t.read(spark).collect()
    got_live = [r for r in after if r.updated_at >= cut]
    got_rolled = sorted(
        (r for r in after if r.updated_at < cut), key=lambda r: r.user_id
    )
    assert sorted(map(tuple, got_live)) == sorted(map(tuple, live))
    # one rollup row per expired user, with the declared aggregates
    from collections import defaultdict
    groups = defaultdict(list)
    for r in expired:
        groups[r.user_id].append(r)
    assert [r.user_id for r in got_rolled] == sorted(groups)
    for r in got_rolled:
        g = groups[r.user_id]
        assert r.kafka_offset == sum(x.kafka_offset for x in g)
        assert r.updated_at == max(x.updated_at for x in g)
        assert r.username == min(x.username for x in g)
        assert r.account_type == min(x.account_type for x in g)
    # content-idempotent: a second rollup re-collapses rows into themselves
    t.apply_ttl_rollup(
        spark, "updated_at", cut_s,
        group_by=("user_id",),
        set_exprs={"kafka_offset": "sum(kafka_offset)"},
    )
    assert sorted(map(tuple, t.read(spark).collect())) == sorted(map(tuple, after))


def test_ttl_rollup_refusals_and_pruned_hit_finding(spark, tmp_path):
    import pytest

    t = ManifestTable(
        str(tmp_path / "t"), n_buckets=2, stats_cols=("updated_at",)
    )
    sink = t.append_parts()
    full = _full(spark)
    times = sorted(r.updated_at for r in full.select("updated_at").collect())
    cut = times[len(times) // 4]
    sink(full.filter(F.col("updated_at") <= F.lit(cut)), 0)
    sink(full.filter(F.col("updated_at") > F.lit(cut)), 1)
    with pytest.raises(ValueError, match="bucket key"):
        t.apply_ttl_rollup(spark, "updated_at", "2030-01-01", ("username",), {})
    with pytest.raises(ValueError, match="GROUP BY column"):
        t.apply_ttl_rollup(
            spark, "updated_at", "2030-01-01", ("user_id",),
            {"user_id": "sum(user_id)"},
        )
    n_files = len(t.current_manifest()["files"])
    cut_s = cut.strftime("%Y-%m-%d %H:%M:%S.%f")
    # rollup everything strictly before an early cutoff: only the old
    # part's files are hit-scanned
    t.apply_ttl_rollup(spark, "updated_at", cut_s, ("user_id",), {})
    note = t.current_manifest()["note"]
    scanned, total = map(int, note.split("scanned=")[1].split("/"))
    assert total == n_files and 0 < scanned < total, note


def _agg_proj_df(spark):
    return spark.range(200).select(
        (F.col("id") % 10).alias("uid"),
        F.col("id").alias("seq"),
        (F.col("id") * 0.01 + 0.005).alias("val"),
        (F.col("id") % 3).cast("string").alias("cat"),
    )


def _agg_proj_direct(t, spark):
    return (
        t.read(spark)
        .groupBy("cat")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("val").cast("decimal(25,6)")).cast("double").alias("v_sum"),
            F.min("seq").alias("s_min"),
            F.max("seq").alias("s_max"),
        )
    )


def test_agg_projection_merges_partial_states_exactly(spark, tmp_path):
    """r9: CH AGGREGATE projections — per-part partial states merge to
    the bit-identical result a direct scan computes (double sums ride
    exact decimals), stay maintained across append and part-merge
    compaction, and never serve row-level reads."""
    df = _agg_proj_df(spark)
    t = ManifestTable(str(tmp_path / "t"), key_col="uid", n_buckets=2)
    ap = t.append_parts(sort_key=("uid", "seq"), arrival=("uid",))
    ap(df.filter(F.col("seq") < 100), 0)
    t.add_agg_projection(
        spark, "by_cat", ("cat",),
        {"n": ("count", "*"), "v_sum": ("sum", "val"),
         "s_min": ("min", "seq"), "s_max": ("max", "seq")},
    )
    ap(df.filter(F.col("seq") >= 100), 1)  # maintained on append
    got = sorted(map(tuple, t.read_agg(spark, "by_cat", fallback=False).collect()))
    want = sorted(map(tuple, _agg_proj_direct(t, spark).collect()))
    assert got == want
    # row reads are untouched by the agg projection's files
    assert t.read(spark).count() == 200
    layout, _ = t.choose_layout(where=[("seq", 0, 10)])
    assert layout == "base"
    # part-merge compaction rebuilds the states for the merged part
    t.compact(spark)
    got2 = sorted(map(tuple, t.read_agg(spark, "by_cat", fallback=False).collect()))
    assert got2 == want
    # drop reclaims: spec gone, files out of the manifest
    t.drop_projection("by_cat")
    assert not any(f.get("proj") for f in t.current_manifest()["files"])


def test_agg_projection_fallback_and_validation(spark, tmp_path):
    import pytest

    df = _agg_proj_df(spark)
    t = ManifestTable(str(tmp_path / "t"), key_col="uid", n_buckets=2)
    t.append_parts(sort_key=("uid", "seq"), arrival=("uid",))(df, 0)
    with pytest.raises(ValueError, match="re-aggregatable"):
        t.add_agg_projection(spark, "bad", ("cat",), {"a": ("avg", "val")})
    with pytest.raises(ValueError, match="count"):
        t.add_agg_projection(spark, "bad", ("cat",), {"a": ("min", "*")})
    with pytest.raises(ValueError, match="shadow"):
        t.add_agg_projection(spark, "bad", ("cat",), {"cat": ("max", "seq")})
    t.add_agg_projection(
        spark, "by_cat", ("cat",), {"n": ("count", "*"), "v_sum": ("sum", "val")}
    )
    want = sorted(
        map(tuple, t.read_agg(spark, "by_cat", fallback=False).collect())
    )
    # strip the projection's files from the snapshot → incomplete
    # coverage: strict read raises, fallback recomputes identically
    m = t.current_manifest()
    t._commit(m, [f for f in m["files"] if not f.get("proj")], "strip")
    with pytest.raises(RuntimeError, match="cover"):
        t.read_agg(spark, "by_cat", fallback=False)
    assert sorted(map(tuple, t.read_agg(spark, "by_cat").collect())) == want
    # a sort projection on the same table still serves row reads
    t2 = ManifestTable(str(tmp_path / "t2"), key_col="uid", n_buckets=2)
    t2.append_parts(sort_key=("uid", "seq"), arrival=("uid",))(df, 0)
    t2.add_projection(spark, "by_seq", "seq", n_files=2)
    t2.add_agg_projection(
        spark, "by_cat", ("cat",), {"n": ("count", "*")}
    )
    layout, files = t2.choose_layout(where=[("seq", 0, 10)])
    assert layout == "by_seq"
    assert all(f.get("proj") == "by_seq" for f in files)
    got = sorted(map(tuple, t2.read_agg(spark, "by_cat", fallback=False).collect()))
    direct = sorted(
        map(tuple, t2.read(spark).groupBy("cat").agg(
            F.count(F.lit(1)).alias("n")).collect())
    )
    assert got == direct


def test_time_travel_uses_the_projections_of_the_version_read(spark, tmp_path):
    """Projection definitions are per-version manifest metadata: after
    DROP PROJECTION, a read of a version that still had the projection
    picks its layout and serves its aggregate, while the current
    version no longer knows it."""
    import pytest

    t = ManifestTable(
        str(tmp_path / "t"), key_col="uid", n_buckets=2, stats_cols=("seq",)
    )
    t.append_parts(sort_key=("uid", "seq"), arrival=("uid",))(_agg_proj_df(spark), 0)
    t.add_projection(spark, "by_seq", "seq", n_files=4)
    t.add_agg_projection(spark, "by_cat", ("cat",), {"n": ("count", "*")})
    v_with = t.current_version()
    probe = [("seq", 0, 10)]
    want = sorted(map(tuple, t.read_agg(spark, "by_cat", fallback=False).collect()))
    t.drop_projection("by_seq")
    t.drop_projection("by_cat")
    assert t.current_version() == v_with + 2 and not t.projections

    assert t.choose_layout(where=probe, version=v_with)[0] == "by_seq"
    got = t.read_agg(spark, "by_cat", version=v_with, fallback=False).collect()
    assert sorted(map(tuple, got)) == want
    assert t.choose_layout(where=probe)[0] == "base"
    with pytest.raises(ValueError, match="not an aggregate projection"):
        t.read_agg(spark, "by_cat")


def test_describe_parts_matches_table_state(spark, tmp_path):
    """r9: system.parts-style introspection — per-file rows/bytes/part/
    bucket/projection from footers + manifest, consistent with reads
    and time travel."""
    t = ManifestTable(
        str(tmp_path / "t"), n_buckets=4, stats_cols=("updated_at",)
    )
    t.append_parts()(_full(spark), 0)
    v0 = t.current_version()
    d = t.describe_parts(spark).collect()
    assert sum(r.rows for r in d) == t.read(spark).count()
    assert all(r.bytes > 0 and r.row_groups >= 1 for r in d)
    assert all(r.proj is None for r in d)
    assert all(r.stats and "updated_at" in r.stats for r in d)
    t.add_projection(spark, "by_time", "updated_at", n_files=2)
    d2 = t.describe_parts(spark).collect()
    base_rows = sum(r.rows for r in d2 if r.proj is None)
    proj_rows = sum(r.rows for r in d2 if r.proj == "by_time")
    assert base_rows == proj_rows == t.read(spark).count()
    # time travel: the pre-projection snapshot still describes cleanly
    assert all(r.proj is None for r in t.describe_parts(spark, version=v0).collect())


def test_incremental_part_merge_touches_smallest_parts_only(spark, tmp_path):
    """r9: CH background-merge policy — merge_parts=k rewrites only the
    k smallest parts (one new part out), untouched parts' base AND
    projection files carry by reference, content and projection reads
    unchanged."""
    df = _agg_proj_df(spark)
    t = ManifestTable(str(tmp_path / "t"), key_col="uid", n_buckets=2)
    t.add_projection(spark, "by_seq", "seq", n_files=2)
    t.add_agg_projection(spark, "by_cat", ("cat",), {"n": ("count", "*")})
    ap = t.append_parts(sort_key=("uid", "seq"), arrival=("uid",))
    ap(df.filter(F.col("seq") < 20), 0)           # small part
    ap(df.filter((F.col("seq") >= 20) & (F.col("seq") < 40)), 1)  # small
    ap(df.filter(F.col("seq") >= 40), 2)          # big part (160 rows)
    before = t.current_manifest()["files"]
    parts_before = {f.get("part") for f in before if not f.get("proj")}
    assert len(parts_before) == 3
    big_part = max(
        parts_before,
        key=lambda p: sum(
            os.path.getsize(os.path.join(t.path, "data", f["name"]))
            for f in before
            if f.get("part") == p and not f.get("proj")
        ),
    )
    big_files = {f["name"] for f in before if f.get("part") == big_part}

    v = t.compact(spark, merge_parts=2)
    assert v == t.current_version()
    after = t.current_manifest()["files"]
    parts_after = {f.get("part") for f in after if not f.get("proj")}
    assert len(parts_after) == 2 and big_part in parts_after
    # untouched big part: every file (base + projections) by reference
    assert {f["name"] for f in after if f.get("part") == big_part} == big_files
    # content preserved; projections still cover; agg read exact
    assert t.read(spark).count() == 200
    layout, _ = t.choose_layout(where=[("seq", 0, 10)])
    assert layout == "by_seq"
    got = sorted(map(tuple, t.read_agg(spark, "by_cat", fallback=False).collect()))
    direct = sorted(map(tuple, t.read(spark).groupBy("cat").agg(
        F.count(F.lit(1)).alias("n")).collect()))
    assert got == direct
    # k<2 refuses; merging below 2 eligible parts is a no-op
    import pytest
    with pytest.raises(ValueError, match="merge_parts"):
        t.compact(spark, merge_parts=1)


def test_equals_any_bloom_probe_spatial_pruning(spark, tmp_path):
    """r9: IN-set bloom probes (CH `col IN (...)` against a
    bloom_filter index) — the spatial-pruning hook: a geohash-celled
    table probed with a box's covering set scans only files whose
    bloom admits some covering cell; results equal full read + IN
    filter; an empty candidate set prunes everything but keeps the
    schema."""
    from pyspark.sql import functions as F

    from postgre_to_clickhouse_spark.operators.geo import (
        geohash_encode,
        geohashes_in_box,
    )

    # 4 spatial quadrants -> 4 part batches with disjoint cells
    df = spark.range(400).select(
        (F.col("id") % 20).alias("uid"),
        F.col("id").alias("seq"),
        ((F.col("id") % 4) * 90 - 180 + (F.col("id") % 7) * 2.5 + F.lit(1.0)).alias("lon"),
        ((F.col("id") % 4) * 45 - 90 + (F.col("id") % 5) * 2.0 + F.lit(1.0)).alias("lat"),
    ).withColumn("gh", geohash_encode(F.col("lon"), F.col("lat"), 2))
    t = ManifestTable(
        str(tmp_path / "t"), key_col="uid", n_buckets=2, bloom_cols=("gh",)
    )
    sink = t.append_parts(sort_key=("uid", "seq"), arrival=("uid",))
    for quad in range(4):
        sink(df.filter(F.col("id") % 4 == quad), quad)

    n_files = len(t.current_manifest()["files"])
    # box covering quadrant 0's lon band only
    cells = df.sparkSession.range(1).select(
        geohashes_in_box(F.lit(-179.0), F.lit(-89.0), F.lit(-150.0), F.lit(-50.0), 2)
        .alias("c")
    ).collect()[0].c
    pruned = t.files_for(equals_any=[("gh", cells)])
    assert 0 < len(pruned) < n_files, (len(pruned), n_files)

    got = (
        t.read(spark, equals_any=[("gh", cells)])
        .filter(F.col("gh").isin(cells))
        .select("seq")
    )
    want = t.read(spark).filter(F.col("gh").isin(cells)).select("seq")
    assert sorted(r.seq for r in got.collect()) == sorted(
        r.seq for r in want.collect()
    )
    # empty candidate set: everything pruned, schema intact
    none = t.read(spark, equals_any=[("gh", [])])
    assert none.count() == 0 and "gh" in none.columns
    # unindexed column: probes never prune (scan-everything fallback)
    assert len(t.files_for(equals_any=[("lon", ["x"])])) == n_files


def test_manifest_mutation_model_sequences(spark, tmp_path):
    """r9 model-based check: seeded random sequences of part appends,
    UPDATE/DELETE mutations, rollup TTL and compaction against an
    in-memory row model — the table's multiset must equal the model
    after EVERY op, and time travel must still reproduce the state
    before the last mutation. Values are exact binary quarters so
    every float op (updates, rollup sums) is order-independent."""
    import random

    def snapshot(t):
        return sorted(
            (r.uid, r.seq, r.grp, r.val, r.ts) for r in t.read(spark).collect()
        )

    def model_sorted(model):
        return sorted(model)

    rng = random.Random(90210)
    for trial in range(3):
        t = ManifestTable(str(tmp_path / f"m{trial}"), key_col="uid", n_buckets=4)
        sink = t.append_parts(sort_key=("uid", "seq"), arrival=("seq",))
        model: list[tuple] = []
        next_seq = 0
        history = []

        def append_batch(n):
            nonlocal next_seq
            rows = [
                (
                    rng.randrange(6),          # uid
                    next_seq + i,              # seq (unique)
                    f"g{rng.randrange(3)}",    # grp
                    rng.randrange(400) * 0.25,  # val: exact quarters
                    1000 + rng.randrange(500),  # ts
                )
                for i in range(n)
            ]
            next_seq += n
            df = spark.createDataFrame(
                rows, "uid long, seq long, grp string, val double, ts long"
            )
            sink(df, rng.randrange(10**9))
            model.extend(rows)

        append_batch(40)
        for _step in range(7):
            op = rng.choice(["append", "update", "delete", "ttl_rollup", "compact"])
            history.append((op, t.current_version()))
            if op == "append":
                append_batch(rng.randrange(10, 30))
            elif op == "update":
                cut = rng.randrange(20, 80) * 0.25 * 4
                t.update_where(
                    spark, {"val": f"val + 100", "grp": "upper(grp)"},
                    f"val < {cut}",
                )
                model = [
                    (u, s, g.upper() if v < cut else g,
                     v + 100 if v < cut else v, ts)
                    for (u, s, g, v, ts) in model
                ]
            elif op == "delete":
                k = rng.randrange(7)
                t.delete_where(spark, f"seq % 7 = {k}")
                model = [r for r in model if r[1] % 7 != k]
            elif op == "ttl_rollup":
                cut = 1000 + rng.randrange(100, 400)
                t.apply_ttl_rollup(
                    spark, "ts", cut, group_by=("uid",),
                    set_exprs={"val": "sum(val)"},
                )
                expired = [r for r in model if r[4] < cut]
                live = [r for r in model if r[4] >= cut]
                groups: dict = {}
                for r in expired:
                    groups.setdefault(r[0], []).append(r)
                rolled = [
                    (
                        u,
                        min(r[1] for r in g),       # seq: deterministic min
                        min(r[2] for r in g),       # grp: deterministic min
                        sum(r[3] for r in g),       # val: SET sum (exact quarters)
                        max(r[4] for r in g),       # ts: max per the contract
                    )
                    for u, g in groups.items()
                ]
                model = live + rolled
            else:
                t.compact(spark)  # content no-op
            assert snapshot(t) == model_sorted(model), (trial, _step, op)
        # time travel: any recorded pre-op version still reads cleanly
        op, v = history[len(history) // 2]
        assert t.read(spark, version=v).count() >= 0
