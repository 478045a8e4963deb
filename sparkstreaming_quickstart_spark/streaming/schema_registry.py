"""Confluent Schema Registry resolver.

The reference resolves writer schemas at runtime from `schema.registry.url`
(Processor.java:128-130: KafkaAvroDeserializer + CachedSchemaRegistryClient).
Here the resolution happens once, on the driver, when the query is built
(SURVEY.md 1.2): `fetch_subject_schemas` reads every version of a subject
over the registry's public REST surface, and the resulting
`{schema_id: schema_json}` map is built into `decode_confluent_avro`'s JVM
function, so executors never talk to the registry.  Schema ids are
immutable, so the map never goes stale; a record whose id is not in it (a
version registered after the query started) fails the query with an error
naming the id.

The transport is a plain `http_get(url) -> str` callable: `urllib.request`
in production (stdlib, no new dependency), a fake in tests.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from urllib.request import urlopen


def _stdlib_http_get(url: str) -> str:
    with urlopen(url, timeout=10.0) as resp:  # noqa: S310 (http by design)
        return resp.read().decode("utf-8")


def fetch_subject_schemas(
    registry_url: str,
    subject: str,
    http_get: Callable[[str], str] = _stdlib_http_get,
) -> dict[int, str]:
    """Resolve every version of `subject` to `{schema_id: schema_json}`.

    `GET {base}/subjects/{subject}/versions` lists the version numbers;
    `GET {base}/subjects/{subject}/versions/{v}` returns each one's `id` and
    `schema`.  Entries are in version order, so the last one is the
    subject's newest schema.  The dict is `decode_confluent_avro`'s
    `schema_map` unchanged.
    """
    base = f"{registry_url.rstrip('/')}/subjects/{subject}/versions"
    out: dict[int, str] = {}
    for version in sorted(json.loads(http_get(base))):
        payload = json.loads(http_get(f"{base}/{version}"))
        if "id" not in payload or "schema" not in payload:
            raise ValueError(
                f"registry response for subject {subject!r} version {version} "
                f"missing id/schema: {payload!r}"
            )
        out[int(payload["id"])] = payload["schema"]
    return out
