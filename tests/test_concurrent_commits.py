"""Concurrent commits on one manifest table: creating ``v{N}.json`` is
the commit, so concurrent appends all land (rebasing on a conflict),
readers never see the version go backwards, INSERTs over every wire
endpoint lose no row, and a rewrite whose base went stale commits
nothing."""

from __future__ import annotations

import sys
import threading
import time

import pytest

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


def _http_sender(ep):
    def send(sql: str):
        code, body = _post(ep, sql)
        assert code == 200, body

    return send, lambda: None


def _mysql_sender(ep):
    c = _MysqlClient(ep.host, ep.port)
    c.handshake()

    def send(sql: str):
        assert c.query(sql) == ("ok",), sql

    return send, c.close


def _native_sender(ep):
    c = _NativeClient(ep.host, ep.port)

    def send(sql: str):
        assert c.query(sql)[0] == "rows", sql

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
                send(f"INSERT INTO t VALUES ({i * per_conn + j}, {i})")
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
