"""Avro schemas of the two mappings' outputs (plain dicts, no Spark),
shared by the measured process and the verifier."""

CONFLUENT_ID = 17
TOPIC = "clickstream"


def _opt(name: str, typ: str) -> dict:
    return {"name": name, "type": ["null", typ], "default": None}


BROWSER_SCHEMA = {
    "type": "record",
    "name": "BrowserEvent",
    "namespace": "io.divolte.bench",
    "fields": [
        _opt("party_id", "string"),
        _opt("session_id", "string"),
        _opt("event_id", "string"),
        _opt("event_type", "string"),
        _opt("client_ms", "long"),
        _opt("corrupt", "boolean"),
        _opt("location", "string"),
        _opt("location_host", "string"),
        _opt("location_path", "string"),
        _opt("location_query", "string"),
        _opt("ua_name", "string"),
        _opt("ua_os", "string"),
        _opt("ua_device", "string"),
        _opt("kind", "string"),
        _opt("session_start", "boolean"),
        _opt("params", "string"),
    ],
}

JSON_SCHEMA = {
    "type": "record",
    "name": "JsonEvent",
    "namespace": "io.divolte.bench",
    "fields": [
        _opt("party_id", "string"),
        _opt("session_id", "string"),
        _opt("event_id", "string"),
        _opt("event_type", "string"),
        _opt("client_ms", "long"),
        _opt("corrupt", "boolean"),
        _opt("new_party", "boolean"),
        _opt("session_start", "boolean"),
        _opt("item", "long"),
        _opt("kind", "string"),
        _opt("params", "string"),
    ],
}

SCHEMAS = {"ingest_browser_avro": BROWSER_SCHEMA, "ingest_json_kafka": JSON_SCHEMA}
