"""Spec-level tests for the Confluent Schema Registry client: protocol
shape (paths, content type, basic auth), id caching, and integration
with the Confluent framing in avro_wire — all against an in-memory fake
registry (the same broker-less stance as test_avro_wire)."""

from __future__ import annotations

import base64
import json

import pytest

from banking_streamprocessing_demos_spark.schemas import (
    MESSAGE_KEY_AVRO_JSON,
    MESSAGE_STATUS_AVRO_JSON,
)
from banking_streamprocessing_demos_spark.sources.avro_wire import confluent_unframe
from banking_streamprocessing_demos_spark.sources.schema_registry import (
    CONTENT_TYPE,
    SchemaRegistryClient,
    SchemaRegistryError,
    register_message_schemas,
    subject_names,
)


class FakeRegistry:
    """In-memory Confluent SR: assigns ids in registration order,
    idempotent for identical schemas, records every request."""

    def __init__(self):
        self.schemas: dict[str, int] = {}
        self.subjects: dict[str, list[int]] = {}
        self.requests: list[tuple[str, str, dict, bytes | None]] = []

    def __call__(self, method, url, headers, body):
        self.requests.append((method, url, headers, body))
        path = url.split("://", 1)[-1].split("/", 1)[1]
        if method == "POST" and path.startswith("subjects/") and path.endswith("/versions"):
            subject = path.split("/")[1]
            schema = json.loads(body)["schema"]
            if schema not in self.schemas:
                self.schemas[schema] = len(self.schemas) + 1
            sid = self.schemas[schema]
            self.subjects.setdefault(subject, [])
            if sid not in self.subjects[subject]:
                self.subjects[subject].append(sid)
            return 200, json.dumps({"id": sid}).encode()
        if method == "GET" and path.startswith("schemas/ids/"):
            sid = int(path.rsplit("/", 1)[1])
            for schema, known in self.schemas.items():
                if known == sid:
                    return 200, json.dumps({"id": sid, "schema": schema}).encode()
            return 404, json.dumps({"error_code": 40403, "message": "not found"}).encode()
        if method == "GET" and path.endswith("/versions/latest"):
            subject = path.split("/")[1]
            if subject not in self.subjects:
                return 404, json.dumps({"error_code": 40401, "message": "not found"}).encode()
            sid = self.subjects[subject][-1]
            schema = next(s for s, k in self.schemas.items() if k == sid)
            return 200, json.dumps(
                {
                    "subject": subject,
                    "version": len(self.subjects[subject]),
                    "id": sid,
                    "schema": schema,
                }
            ).encode()
        return 500, b"unhandled"


@pytest.fixture
def fake():
    return FakeRegistry()


@pytest.fixture
def client(fake):
    return SchemaRegistryClient(
        url="https://sr.example:8081", basic_auth="api-key:api-secret", transport=fake
    )


def test_register_protocol_shape(client, fake):
    sid = client.register("message_status-key", MESSAGE_KEY_AVRO_JSON)
    assert sid == 1
    method, url, headers, body = fake.requests[0]
    assert method == "POST"
    assert url == "https://sr.example:8081/subjects/message_status-key/versions"
    assert headers["Content-Type"] == CONTENT_TYPE
    expected = "Basic " + base64.b64encode(b"api-key:api-secret").decode()
    assert headers["Authorization"] == expected
    assert json.loads(body) == {"schema": MESSAGE_KEY_AVRO_JSON}


def test_register_caches_and_roundtrips(client, fake):
    a = client.register("s", MESSAGE_KEY_AVRO_JSON)
    b = client.register("s", MESSAGE_KEY_AVRO_JSON)
    assert a == b
    assert len(fake.requests) == 1  # second register served from cache
    assert client.get_schema(a) == MESSAGE_KEY_AVRO_JSON
    assert client.get_schema(a) == MESSAGE_KEY_AVRO_JSON
    assert len(fake.requests) == 2  # get_schema cached too


def test_latest_version_and_errors(client):
    client.register("subj", MESSAGE_STATUS_AVRO_JSON)
    latest = client.latest_version("subj")
    assert latest["schema"] == MESSAGE_STATUS_AVRO_JSON
    assert latest["version"] == 1
    with pytest.raises(SchemaRegistryError) as ei:
        client.get_schema(999)
    assert ei.value.status == 404


def test_urllib_transport_returns_http_errors_as_status():
    """4xx/5xx must come back as (status, body) — not raise — so _call's
    SchemaRegistryError path applies to the DEFAULT transport, not only
    injected stubs (urlopen raises HTTPError on non-2xx)."""
    import io
    import urllib.error
    import urllib.request
    from unittest import mock

    from banking_streamprocessing_demos_spark.sources.schema_registry import (
        urllib_transport,
    )

    err = urllib.error.HTTPError(
        "http://sr.local/x", 409, "Conflict", hdrs=None, fp=io.BytesIO(b'{"error_code":409}')
    )
    with mock.patch.object(urllib.request, "urlopen", side_effect=err):
        status, body = urllib_transport("GET", "http://sr.local/x", {}, None)
    assert status == 409
    assert body == b'{"error_code":409}'


def test_topic_name_strategy():
    assert subject_names("message_status") == (
        "message_status-key",
        "message_status-value",
    )


def test_registered_ids_flow_into_confluent_framing(client, spark):
    """End-to-end broker-less: register both schemas, frame a record
    with the returned ids via to_wire, and check a consumer reading the
    frame can resolve the id back to the registered schema."""
    from banking_streamprocessing_demos_spark.sources.avro_wire import to_wire

    key_id, value_id = register_message_schemas(client)
    assert (key_id, value_id) == (1, 2)
    events = spark.createDataFrame(
        [("m-1", "sent", 2125550000, "verizon", 1700000000000)],
        "message_id string, status string, phone_number long, carrier string, timestamp long",
    )
    row = to_wire(events, key_schema_id=key_id, value_schema_id=value_id).collect()[0]
    framed_key_id, _ = confluent_unframe(bytes(row.key))
    framed_value_id, _ = confluent_unframe(bytes(row.value))
    assert framed_key_id == key_id
    assert framed_value_id == value_id
    assert client.get_schema(framed_value_id) == MESSAGE_STATUS_AVRO_JSON


def test_kafka_sink_frames_with_the_registrys_ids(client, fake, spark, monkeypatch):
    """``write_message_stream`` registers both schemas under the subjects
    of ``TOPIC`` and frames every record with the ids the registry
    returns, not ``to_wire``'s defaults.  The connector is absent here,
    so the test stops the sink at ``to_wire`` with the framed rows."""
    from banking_streamprocessing_demos_spark.sources import avro_wire, kafka_avro

    class Framed(Exception):
        pass

    def to_wire(events, **ids):
        raise Framed(avro_wire.to_wire(events, **ids))

    # an unrelated schema takes id 1, so the message schemas get 2 and 3
    client.register("other-value", '"string"')
    monkeypatch.setenv("TOPIC", "alerts_eu")
    monkeypatch.setattr(kafka_avro, "kafka_available", lambda _spark: True)
    monkeypatch.setattr(kafka_avro, "to_wire", to_wire)
    events = spark.createDataFrame(
        [("m-1", "sent", 2125550000, "verizon", 1700000000000)],
        "message_id string, status string, phone_number long, carrier string, timestamp long",
    )
    with pytest.raises(Framed) as framed:
        kafka_avro.write_message_stream(events, client, "unused-checkpoint")

    row = framed.value.args[0].collect()[0]
    assert confluent_unframe(bytes(row.key))[0] == 2
    assert confluent_unframe(bytes(row.value))[0] == 3
    assert fake.subjects == {"other-value": [1], "alerts_eu-key": [2], "alerts_eu-value": [3]}
