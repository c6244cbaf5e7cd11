"""Confluent framing + schema-registry client (SURVEY.md §4.3).

The reference's ingest format is ``AvroConfluent`` with a registry lookup
(``/root/reference/README.md:201-202``): every Kafka value is
``magic(0x0, 1B) + schemaId(4B big-endian) + avro-binary``. :func:`frame`
builds that header (the producer side) and :func:`unframe` checks and
strips it (the consumer side). The Avro bytes themselves are decoded by
``cdc.avro_py.decode_confluent_frames``, which dispatches each record on
its schema id and resolves it to one reader schema.
"""

from __future__ import annotations

import json
import struct
import urllib.request
from functools import lru_cache

MAGIC_BYTE = b"\x00"
HEADER_LEN = 5


def frame(avro_binary: bytes, schema_id_: int) -> bytes:
    """Python-side framing helper (fixture/producer path)."""
    return MAGIC_BYTE + struct.pack(">I", schema_id_) + avro_binary


def unframe(value: bytes) -> tuple[int, bytes]:
    """Framed Kafka value → (schema id, Avro payload). Raises
    ``ValueError`` when the value is shorter than the header or does
    not start with the magic byte: such a value is not a Confluent
    frame, and its bytes must not be decoded as one."""
    if len(value) < HEADER_LEN:
        raise ValueError(f"{len(value)}-byte value is shorter than the {HEADER_LEN}-byte Confluent header")
    if value[:1] != MAGIC_BYTE:
        raise ValueError(f"magic byte is 0x{value[0]:02x}, not 0x00: not a Confluent frame")
    return struct.unpack(">I", value[1:HEADER_LEN])[0], value[HEADER_LEN:]


class SchemaRegistryClient:
    """Minimal Confluent SR HTTP client (GET /schemas/ids/{id},
    /subjects/{s}/versions/latest — the endpoints the reference's stack
    uses, healthcheck at ``docker-compose.yml:102``), with an LRU cache so
    executors don't hammer the registry.
    """

    def __init__(self, base_url: str):
        self.base_url = base_url.rstrip("/")

    @lru_cache(maxsize=1024)  # noqa: B019 — client instances are long-lived singletons
    def schema_by_id(self, schema_id_: int) -> str:
        with urllib.request.urlopen(f"{self.base_url}/schemas/ids/{schema_id_}") as r:
            return json.loads(r.read())["schema"]

    @lru_cache(maxsize=1024)  # noqa: B019
    def latest_schema(self, subject: str) -> tuple[int, str]:
        with urllib.request.urlopen(f"{self.base_url}/subjects/{subject}/versions/latest") as r:
            body = json.loads(r.read())
            return body["id"], body["schema"]


class StaticSchemaRegistry:
    """File/dict-backed stand-in for SR in fixture-driven tests."""

    def __init__(self, schemas: dict[int, str]):
        self._schemas = dict(schemas)

    def schema_by_id(self, schema_id_: int) -> str:
        return self._schemas[schema_id_]
