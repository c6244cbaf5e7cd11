"""Concurrent commits on one manifest table: creating ``v{N}.json`` is
the commit, so concurrent appends all land (rebasing on a conflict),
readers never see the version go backwards, INSERTs over every wire
endpoint lose no row, and a rewrite whose base went stale commits
nothing. Projection DDL commits its definition and its files in one
manifest, so it never leaves a declared projection that fails to cover
the snapshot, however it interleaves with appends."""

from __future__ import annotations

import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from postgre_to_clickhouse_spark.ch_ddl import ChDdlCatalog
from postgre_to_clickhouse_spark.ch_http import serve_ch_http
from postgre_to_clickhouse_spark.ch_mysql import serve_ch_mysql
from postgre_to_clickhouse_spark.ch_native import serve_ch_native
from postgre_to_clickhouse_spark.sinks.manifest import CommitConflict, ManifestTable
from tests.test_ch_http import _post
from tests.test_ch_mysql import _Client as _MysqlClient
from tests.test_ch_native import _Client as _NativeClient


def _run_threads(targets) -> list[Exception]:
    """Run each target on its own thread; the exceptions they raised."""
    errors: list[Exception] = []

    def guarded(fn):
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 — reported by the test
            errors.append(exc)

    threads = [threading.Thread(target=guarded, args=(fn,)) for fn in targets]
    for th in threads:
        th.start()
    for th in threads:
        th.join(300)
    assert not any(th.is_alive() for th in threads), "a thread hung"
    return errors


def test_concurrent_appends_all_land_and_versions_only_grow(tmp_path):
    path = str(tmp_path / "t")
    ManifestTable(path)
    n_writers, per_writer = 8, 5
    start = threading.Barrier(n_writers + 1)
    writers_done = threading.Event()
    committed: list[int] = []
    seen: list = []  # versions the reader saw, or the error it hit

    def writer(i: int):
        t = ManifestTable(path)  # each writer on its own table object
        start.wait()
        for j in range(per_writer):
            committed.append(t._append([{"name": f"f{i}-{j}", "bucket": 0}], note=f"w{i}.{j}"))

    def reader():
        t = ManifestTable(path)
        start.wait()
        try:
            while not writers_done.is_set():
                seen.append(t.current_manifest()["version"])
        except Exception as exc:  # noqa: BLE001 — reported by the test
            seen.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads as finely as possible
    try:
        read_thread = threading.Thread(target=reader)
        read_thread.start()
        errors = _run_threads([lambda i=i: writer(i) for i in range(n_writers)])
        writers_done.set()
        read_thread.join(60)
    finally:
        sys.setswitchinterval(switch)
    assert not errors, errors
    assert not read_thread.is_alive()

    total = n_writers * per_writer
    t = ManifestTable(path)
    names = {f["name"] for f in t.current_manifest()["files"]}
    assert names == {f"f{i}-{j}" for i in range(n_writers) for j in range(per_writer)}
    # every append made its own version, and versions are contiguous:
    # each one holds exactly one file more than the one before
    assert sorted(committed) == list(range(total))
    assert t.current_version() == total - 1
    assert [len(t.manifest_at(v)["files"]) for v in range(total)] == list(range(1, total + 1))
    assert seen and all(isinstance(v, int) for v in seen), seen[-1:]
    assert seen == sorted(seen)


# Each sender runs one statement and returns None when the server
# acknowledged it, else the server's error message.
def _http_sender(ep):
    def send(sql: str):
        code, body = _post(ep, sql)
        return None if code == 200 else body

    return send, lambda: None


def _mysql_sender(ep):
    c = _MysqlClient(ep.host, ep.port)
    c.handshake()

    def send(sql: str):
        reply = c.query(sql)
        return None if reply == ("ok",) else str(reply)

    return send, c.close


def _native_sender(ep):
    c = _NativeClient(ep.host, ep.port)

    def send(sql: str):
        reply = c.query(sql)
        return None if reply[0] == "rows" else str(reply)

    return send, c.close


_WIRES = {
    "http": (serve_ch_http, _http_sender),
    "mysql": (serve_ch_mysql, _mysql_sender),
    "native": (serve_ch_native, _native_sender),
}


@pytest.mark.parametrize("wire", sorted(_WIRES))
def test_concurrent_wire_inserts_all_land(spark, tmp_path, wire, monkeypatch):
    serve, connect = _WIRES[wire]
    read = ManifestTable.current_manifest

    def slow_read(self):  # widen the read-to-commit window, as a loaded disk would
        m = read(self)
        time.sleep(0.02)
        return m

    monkeypatch.setattr(ManifestTable, "current_manifest", slow_read)
    cat = ChDdlCatalog(storage_root=str(tmp_path))
    cat.execute("CREATE TABLE t (id UInt32, conn UInt32) ENGINE = MergeTree ORDER BY id", spark=spark)
    ep = serve(spark, cat)
    n_conns, per_conn = 6, 4
    start = threading.Barrier(n_conns)

    def client(i: int):
        send, close = connect(ep)  # one connection per thread
        try:
            start.wait()
            for j in range(per_conn):
                err = send(f"INSERT INTO t VALUES ({i * per_conn + j}, {i})")
                assert err is None, err
        finally:
            close()

    try:
        errors = _run_threads([lambda i=i: client(i) for i in range(n_conns)])
    finally:
        ep.stop()
    assert not errors, errors
    ids = sorted(r.id for r in cat.query(spark, "SELECT id FROM t").collect())
    assert ids == list(range(n_conns * per_conn))
    assert cat.storage_for("t").current_version() == n_conns * per_conn - 1


def test_stale_optimize_final_conflicts_and_keeps_insert(spark, tmp_path, monkeypatch):
    """An INSERT that commits while OPTIMIZE FINAL writes its fold makes
    the fold's base stale: the fold raises CommitConflict and commits
    nothing, and the inserted row survives."""
    cat = ChDdlCatalog(storage_root=str(tmp_path))
    cat.execute(
        "CREATE TABLE t (id UInt32, v UInt32) ENGINE = ReplacingMergeTree(v) ORDER BY id",
        spark=spark,
    )
    cat.execute("INSERT INTO t VALUES (1, 1), (2, 1)", spark=spark)
    cat.execute("INSERT INTO t VALUES (1, 2)", spark=spark)
    t = cat.storage_for("t")
    write = t._write_bucket_files
    raced = []

    def write_while_an_insert_commits(*args, **kwargs):
        monkeypatch.setattr(t, "_write_bucket_files", write)  # race once
        raced.append(cat.execute("INSERT INTO t VALUES (3, 1)", spark=spark))
        return write(*args, **kwargs)

    monkeypatch.setattr(t, "_write_bucket_files", write_while_an_insert_commits)
    with pytest.raises(CommitConflict):
        cat.execute("OPTIMIZE TABLE t FINAL", spark=spark)
    assert raced == [2] and t.current_version() == 2  # only the INSERT committed
    assert t.current_manifest()["note"].startswith("append")
    rows = cat.query(spark, "SELECT id, v FROM t FINAL ORDER BY id").collect()
    assert [tuple(r) for r in rows] == [(1, 2), (2, 1), (3, 1)]


_SINK = dict(sort_key=("uid", "seq"), arrival=("uid",))


def _rows(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(F.col("id").alias("uid"), F.col("id").alias("seq"))


def _declared_matches_files(t: ManifestTable) -> bool:
    m = t.current_manifest()
    return set(t.projections) == {f["proj"] for f in m["files"] if f.get("proj")}


@pytest.mark.parametrize("ddl", ["add", "drop"])
def test_projection_ddl_losing_to_an_append_commits_nothing(spark, tmp_path, ddl, monkeypatch):
    """ADD/DROP PROJECTION that loses the commit race to an append
    raises CommitConflict with neither its definition nor its files
    committed, so a fresh handle's definitions match the files and
    the retry the error asks for succeeds."""
    path = str(tmp_path / "t")
    t = ManifestTable(path, key_col="uid", n_buckets=2)
    t.append_parts(**_SINK)(_rows(spark, 0, 10), 0)
    if ddl == "drop":
        t.add_projection(spark, "x", "seq", n_files=2)
    commit = t._commit

    def append_first(*args, **kwargs):
        monkeypatch.setattr(t, "_commit", commit)  # race once
        ManifestTable(path, key_col="uid", n_buckets=2).append_parts(**_SINK)(_rows(spark, 10, 20), 1)
        return commit(*args, **kwargs)

    def run():
        if ddl == "add":
            return t.add_projection(spark, "x", "seq", n_files=2)
        return t.drop_projection("x")

    monkeypatch.setattr(t, "_commit", append_first)
    with pytest.raises(CommitConflict):
        run()
    fresh = ManifestTable(path, key_col="uid", n_buckets=2)
    assert fresh.current_manifest()["note"] == "append batch_id=1"
    assert _declared_matches_files(fresh)
    run()  # the retry CommitConflict asks for
    assert _declared_matches_files(fresh)
    assert set(fresh.projections) == ({"x"} if ddl == "add" else set())
    if ddl == "add":
        assert fresh._projection_files(fresh.current_manifest(), "x") is not None
    assert fresh.read(spark).count() == 20


@pytest.mark.parametrize("when", ["before_write", "during_write"])
def test_handle_opened_before_add_projection_keeps_it_covering(spark, tmp_path, when, monkeypatch):
    """A handle opened before another handle declares a projection
    either writes the projection's files with its next append or
    raises CommitConflict (the declaration landed while its part was
    being written against the old definitions); either way the
    projection still covers the snapshot."""
    path = str(tmp_path / "t")
    stale = ManifestTable(path, key_col="uid", n_buckets=2)
    other = ManifestTable(path, key_col="uid", n_buckets=2)
    other.append_parts(**_SINK)(_rows(spark, 0, 10), 0)
    if when == "before_write":
        other.add_projection(spark, "x", "seq", n_files=2)
    else:
        write = stale._write_part

        def declare_while_writing(*args, **kwargs):
            files = write(*args, **kwargs)
            other.add_projection(spark, "x", "seq", n_files=2)
            return files

        monkeypatch.setattr(stale, "_write_part", declare_while_writing)
    try:
        stale.append_parts(**_SINK)(_rows(spark, 10, 20), 1)
        landed = True
    except CommitConflict:
        landed = False
    assert landed == (when == "before_write")
    m = stale.current_manifest()
    assert stale._projection_files(m, "x") is not None
    assert stale.read(spark).count() == (20 if landed else 10)


@pytest.mark.filterwarnings("error::pytest.PytestUnhandledThreadExceptionWarning")
@pytest.mark.parametrize("wire", sorted(_WIRES))
def test_add_projection_during_wire_inserts(spark, tmp_path, wire, monkeypatch):
    """One connection runs ALTER TABLE ... ADD PROJECTION once the other
    connections' INSERTs are under way. A statement that loses a commit race is answered with the
    conflict error and retried by its client; every acknowledged row
    lands, and the acknowledged projection covers the final snapshot."""
    serve, connect = _WIRES[wire]
    read = ManifestTable.current_manifest

    def slow_read(self):  # widen the read-to-commit window, as a loaded disk would
        m = read(self)
        time.sleep(0.02)
        return m

    monkeypatch.setattr(ManifestTable, "current_manifest", slow_read)
    cat = ChDdlCatalog(storage_root=str(tmp_path))
    cat.execute("CREATE TABLE t (id UInt32, conn UInt32) ENGINE = MergeTree ORDER BY id", spark=spark)
    cat.execute("INSERT INTO t VALUES (0, 0)", spark=spark)
    ep = serve(spark, cat)
    n_conns, per_conn = 4, 3
    start = threading.Barrier(n_conns + 1)
    acked: list[int] = []
    inserting = threading.Event()
    altered: list[bool] = []

    def until_acked(send, sql: str) -> None:
        for _ in range(40):
            err = send(sql)
            if err is None:
                return
            assert "nothing committed, retry" in err, err
        raise AssertionError(f"never acknowledged: {sql}")

    def inserter(i: int):
        send, close = connect(ep)  # one connection per thread
        try:
            start.wait()
            for j in range(per_conn):
                row = 1 + i * per_conn + j
                until_acked(send, f"INSERT INTO t VALUES ({row}, {i})")
                acked.append(row)
                inserting.set()
        finally:
            close()

    def alterer():
        send, close = connect(ep)
        try:
            start.wait()
            inserting.wait(120)
            until_acked(send, "ALTER TABLE t ADD PROJECTION by_conn (SELECT * ORDER BY conn)")
            altered.append(True)
        finally:
            close()

    try:
        errors = _run_threads([alterer] + [lambda i=i: inserter(i) for i in range(n_conns)])
    finally:
        ep.stop()
    assert not errors, errors
    ids = sorted(r.id for r in cat.query(spark, "SELECT id FROM t").collect())
    assert ids == [0] + sorted(acked) == list(range(1 + n_conns * per_conn))
    t = cat.storage_for("t")
    assert altered and set(t.projections) == {"by_conn"}
    assert t._projection_files(t.current_manifest(), "by_conn") is not None
