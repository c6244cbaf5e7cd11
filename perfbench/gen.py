"""Seeded inputs for the benchmark workloads.

Everything the program receives is produced here from the workload
seed: the CDC change stream (and its Confluent-Avro framing) and the
OLAP pass order. The same seed
gives the same inputs.
"""

from __future__ import annotations

import datetime as dt
import random
import struct

# 2024-01-01T00:00:00Z in epoch seconds; every generated version lies
# after it, one or more whole seconds apart (the target DateTime column
# keeps seconds only).
_BASE_S = 1_704_067_200
_ACCOUNT_TYPES = ("free", "basic", "premium", "enterprise")
_SCHEMA_ID = 1


class ChangeStream:
    """A seeded Debezium-style change stream over ``n_users`` keys.

    Each event is an upsert of one user row. The mix holds first
    inserts, updates (a newer version), redeliveries (an exact copy of
    an earlier event, same Kafka offset) and stale versions (an older
    ``updated_at`` arriving after a newer one). Versions of one user
    never share an ``updated_at`` second, so "max ``updated_at`` wins"
    decides every key without ties between different contents.
    """

    def __init__(self, seed: int, n_users: int):
        self.rng = random.Random(seed)
        self.n_users = n_users
        self.offset = 0
        self.latest_s: dict[int, int] = {}
        self.used_s: dict[int, set[int]] = {}
        self.created_s: dict[int, int] = {}
        self.sent: list[dict] = []

    def _row(self, uid: int, at_s: int) -> dict:
        self.used_s.setdefault(uid, set()).add(at_s)
        ev = {
            "user_id": uid,
            "username": f"user{uid}_{at_s % 100_000}",
            "account_type": self.rng.choice(_ACCOUNT_TYPES),
            "updated_at": at_s * 1_000_000 + self.rng.randrange(1_000_000),
            "created_at": self.created_s[uid] * 1_000_000,
            "offset": self.offset,
            "ts_ms": (_BASE_S + self.offset) * 1000,
        }
        self.offset += 1
        self.sent.append(ev)
        return ev

    def _event(self) -> dict:
        r = self.rng.random()
        if r < 0.05 and self.sent:
            return dict(self.rng.choice(self.sent))  # redelivery
        uid = self.rng.randrange(1, self.n_users + 1)
        if uid not in self.latest_s:  # first sight: the insert
            self.created_s[uid] = _BASE_S + self.rng.randrange(86_400)
            at = self.created_s[uid]
            self.latest_s[uid] = at
            return self._row(uid, at)
        used = self.used_s[uid]
        if r < 0.15:  # stale: an unused second below the latest version
            at = self.latest_s[uid] - self.rng.randrange(1, 3_600)
            if at not in used and at > self.created_s[uid]:
                return self._row(uid, at)
        at = self.latest_s[uid] + self.rng.randrange(1, 3_600)
        self.latest_s[uid] = at
        return self._row(uid, at)

    def batch(self, n: int) -> list[dict]:
        return [self._event() for _ in range(n)]


def expected_latest(batches: list[list[dict]], best: dict | None = None) -> dict[int, tuple]:
    """user_id -> (username, account_type, updated_at seconds) after
    folding ``batches`` onto ``best``: the max ``updated_at`` per user
    wins and redeliveries collapse onto their original."""
    best = dict(best or {})
    for b in batches:
        for e in b:
            at = e["updated_at"] // 1_000_000
            cur = best.get(e["user_id"])
            if cur is None or at > cur[2]:
                best[e["user_id"]] = (e["username"], e["account_type"], at)
    return best


def confluent_frames(events: list[dict], schema_json: str, encode) -> list[bytes]:
    """Frame each event's row as a Confluent Avro value: magic byte 0,
    a 4-byte big-endian schema id, then the Avro binary body."""
    head = b"\x00" + struct.pack(">I", _SCHEMA_ID)
    keys = ("user_id", "username", "account_type", "updated_at", "created_at")
    return [head + encode({k: e[k] for k in keys}, schema_json) for e in events]


def ch_datetime(seconds: int) -> str:
    return dt.datetime.fromtimestamp(seconds, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S")


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The seeded order of one OLAP pass."""
    order = list(names)
    random.Random(seed * 1_000_003 + pass_no).shuffle(order)
    return order
