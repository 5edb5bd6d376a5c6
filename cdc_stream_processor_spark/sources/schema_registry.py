"""Confluent Schema Registry resolution for Confluent-framed Avro values.

The reference deserializes every Kafka value through Schema Registry
(AvroSerdes.java:35-44): the 5-byte wire header carries the writer-schema
id, the client resolves id → schema (cached), and subjects follow
TopicNameStrategy (``<topic>-value`` / ``<topic>-key``,
ABBankStreamsConfig.java:107-111).  This module supplies the same
resolution step for the Spark engine, pluggable and offline-testable:

- ``DictSchemaRegistry`` — id → writer-schema-JSON mapping, the unit-test
  / air-gapped implementation (also the shape to pre-bake when replaying
  a frozen topic dump where the id set is known).
- ``HttpSchemaRegistry`` — the Confluent REST lookup
  (``GET /schemas/ids/{id}``, public wire API), lazily imported urllib,
  per-process cache so each executor pays one HTTP round-trip per
  distinct schema id, not per record.

Resolution happens PER RECORD inside the Arrow batch decoder (ids can
change mid-topic under schema evolution — exactly the case the registry
exists for), against a per-process cache, so the scale cost is one dict
probe per value.
"""

from __future__ import annotations

import json
import struct
from typing import Any, Iterator, Protocol

from cdc_stream_processor_spark.sources.avro_codec import (
    CONFLUENT_HEADER_LEN,
    decode_record,
)


class SchemaRegistry(Protocol):
    """id → writer schema JSON.  Implementations must be picklable (they
    ship to executors inside the decode closure)."""

    def get_schema(self, schema_id: int) -> str: ...


def subject_name(topic: str, is_key: bool = False) -> str:
    """Confluent TopicNameStrategy (reference
    ABBankStreamsConfig.java:107-111): the subject under which a topic's
    value (or key) schema is registered."""
    return f"{topic}-{'key' if is_key else 'value'}"


def extract_schema_id(frame: bytes) -> int:
    """Parse the writer-schema id out of a Confluent-framed value
    (0x00 magic + 4-byte big-endian id).  Raises ValueError on a frame
    that is too short or has the wrong magic byte — the caller decides
    whether that means corrupt-drop (PERMISSIVE) or fail."""
    if len(frame) < CONFLUENT_HEADER_LEN or frame[0] != 0:
        raise ValueError(
            "not a Confluent-framed Avro value (need 0x00 magic + 4-byte id)"
        )
    return struct.unpack(">I", frame[1:5])[0]


class DictSchemaRegistry:
    """Offline registry: a plain {schema_id: writer_schema_json} dict.

    The test/replay implementation — no network, picklable, and the
    canonical way to decode a frozen topic dump whose schema ids were
    exported alongside it."""

    def __init__(self, schemas: dict[int, str]):
        self._schemas = {int(k): v for k, v in schemas.items()}

    def get_schema(self, schema_id: int) -> str:
        try:
            return self._schemas[schema_id]
        except KeyError:
            raise LookupError(
                f"schema id {schema_id} not in offline registry "
                f"(have {sorted(self._schemas)})"
            ) from None


class HttpSchemaRegistry:
    """Confluent REST lookup: ``GET {base_url}/schemas/ids/{id}`` →
    ``{"schema": "<json>"}`` (public Confluent wire API).  Responses are
    cached per instance, and instances pickle WITHOUT the cache, so each
    executor process re-fetches each distinct id at most once."""

    def __init__(self, base_url: str, timeout: float = 10.0):
        self.base_url = base_url.rstrip("/")
        self.timeout = timeout
        self._cache: dict[int, str] = {}

    def __getstate__(self):
        return {"base_url": self.base_url, "timeout": self.timeout}

    def __setstate__(self, state):
        self.base_url = state["base_url"]
        self.timeout = state["timeout"]
        self._cache = {}

    def get_schema(self, schema_id: int) -> str:
        if schema_id not in self._cache:
            import urllib.request

            with urllib.request.urlopen(
                f"{self.base_url}/schemas/ids/{schema_id}",
                timeout=self.timeout,
            ) as resp:
                self._cache[schema_id] = json.loads(resp.read())["schema"]
        return self._cache[schema_id]


def envelopes_from_avro_registry(
    raw,
    registry: SchemaRegistry,
    spark_envelope_schema,
    value_col: str = "value",
):
    """F1 with registry resolution: Confluent-framed binary values →
    envelope rows, the writer schema resolved PER RECORD from the frame's
    schema id — no hand-passed schema JSON (closes the reference's
    AvroSerdes.java:35-44 gap).

    The one Avro ingress path: Arrow-batched mapInPandas decode (the
    pure-Python ``avro_codec``, so no spark-avro jar is needed) → JSON →
    PERMISSIVE from_json, so corrupt frames and unknown schema ids degrade
    to dropped null envelopes (F2 log-and-continue), and the plan works
    identically on batch and streaming inputs.  Parsed writer schemas are
    cached per executor process (keyed by id), so resolution is one dict
    probe per value.

    Only DATA-shaped failures take the corrupt-drop path (bad framing,
    id missing from the registry, malformed Avro/JSON); infrastructure
    failures (registry unreachable, HTTP 5xx — ``OSError``/``URLError``)
    PROPAGATE so the task fails and Spark retries, matching the
    reference's AvroSerdes, which lets resolver failures bubble rather
    than silently dropping valid records.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    def decode_batch(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        parsed_cache: dict[int, Any] = {}
        for pdf in batches:
            out = []
            for v in pdf[value_col]:
                try:
                    frame = bytes(v)
                    sid = extract_schema_id(frame)
                    schema = parsed_cache.get(sid)
                    if schema is None:
                        schema = json.loads(registry.get_schema(sid))
                        parsed_cache[sid] = schema
                    rec = decode_record(
                        schema, frame[CONFLUENT_HEADER_LEN:]
                    )
                    out.append(json.dumps(rec))
                except (
                    ValueError,  # bad framing / malformed Avro / bad schema JSON
                    LookupError,  # id absent from offline registry
                    TypeError,  # null / non-bytes value cell
                    struct.error,  # truncated Avro primitive
                    IndexError,  # varint runs off the buffer
                ):  # data-shaped corruption → null envelope; infra errors
                    # (OSError/URLError from HttpSchemaRegistry) propagate
                    out.append(None)
            yield pd.DataFrame({"_json": pd.Series(out, dtype="object")})

    decoded = raw.select(F.col(value_col)).mapInPandas(
        decode_batch, schema="_json string"
    )
    parsed = decoded.select(
        F.from_json(F.col("_json"), spark_envelope_schema).alias("env")
    )
    return parsed.filter(F.col("env").isNotNull()).select("env.*")
