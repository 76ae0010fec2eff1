"""The load generator: determinism and manifest correctness."""

import filecmp
import json
import os
from collections import Counter

import pytest

import gen
from divolte_collector_spark.functions.useragent import classify_user_agent
from divolte_collector_spark.sources.browser import decode_wire_batch
from divolte_collector_spark.sources.wirelog import parse_line


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(gen, "CHUNK_EVENTS", dict.fromkeys(gen.WORKLOADS, 200))


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_bytes(tmp_path, tiny, workload):
    a = gen.generate(workload, 7, 3, str(tmp_path / "a"))
    b = gen.generate(workload, 7, 3, str(tmp_path / "b"))
    assert a == b
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert not mismatch and not errors
    c = gen.generate(workload, 8, 3, str(tmp_path / "c"))
    assert c["chunks"][0]["events"] != a["chunks"][0]["events"]


def test_browser_manifest_matches_the_decoder(tmp_path, tiny):
    """Every flag the manifest states is what the package's own wire
    decoder finds in the rendered line; a re-send repeats, byte for
    byte, a line kept in the same or an earlier chunk."""
    m = gen.generate("ingest_browser_avro", 3, 4, str(tmp_path))
    kept_keys = set()
    seen_lines = set()
    totals = Counter()
    for chunk in m["chunks"]:
        with open(tmp_path / chunk["file"]) as fh:
            lines = fh.read().splitlines()
        assert len(lines) == chunk["requests"] == len(chunk["events"])
        parsed = [parse_line(line) for line in lines]
        assert all(p[2] == "/csc-event" for p in parsed)
        dec = decode_wire_batch([p[3] for p in parsed])
        kept_lines = {line for line, row in zip(lines, chunk["events"]) if row[3]}
        seen_lines |= kept_lines
        for i, (party, session, event_id, kept, corrupt) in enumerate(chunk["events"]):
            complete = dec["_complete"][i]
            key = (party, session, event_id)
            if not complete:
                assert not kept
                totals["incomplete"] += 1
                continue
            assert (dec["party_id"][i], dec["session_id"][i], dec["event_id"][i]) == key
            assert dec["corrupt_event"][i] == bool(corrupt)
            totals["corrupt"] += corrupt
            if kept:
                assert key not in kept_keys
                kept_keys.add(key)
            else:
                assert lines[i] in seen_lines
                totals["resent"] += 1
        totals["requests"] += chunk["requests"]
    n = totals["requests"]
    assert 0.03 < totals["resent"] / n < 0.07
    assert 0.04 < totals["corrupt"] / n < 0.12
    assert 0 < totals["incomplete"] / n < 0.03


def test_json_manifest_counts(tmp_path, tiny):
    m = gen.generate("ingest_json_kafka", 3, 3, str(tmp_path))
    for chunk in m["chunks"]:
        with open(tmp_path / chunk["file"]) as fh:
            reqs = [json.loads(line) for line in fh]
        assert len(reqs) == chunk["requests"]
        for req, (party, session, event_id, kept, corrupt) in zip(reqs, chunk["events"]):
            body = json.loads(req["body"])
            assert req["party_id_param"] == party and body["session_id"] == session
            assert kept == ("event_id" in body) and corrupt == 0
            if kept:
                assert body["event_id"] == event_id


def test_client_times_stay_inside_the_watermark(tmp_path, tiny):
    """Out-of-order arrivals are never later than the 10-minute
    watermark behind the newest event seen so far."""
    m = gen.generate("ingest_json_kafka", 5, 40, str(tmp_path))
    newest = 0
    late = 0
    for chunk in m["chunks"]:
        with open(tmp_path / chunk["file"]) as fh:
            times = [json.loads(json.loads(line)["body"])["client_timestamp_iso"] for line in fh]
        from datetime import datetime

        ms = [datetime.fromisoformat(t.replace("Z", "+00:00")).timestamp() for t in times]
        for t in ms:
            if t < newest:
                late += 1
                assert newest - t < 600
        newest = max(newest, max(ms))
    assert late > 0


def test_user_agent_variants_are_distinct_and_parse():
    uas = [gen.user_agent(r) for r in range(gen.UA_VARIANTS)]
    assert len(set(uas)) == gen.UA_VARIANTS
    names = {classify_user_agent.__wrapped__(u)[0] for u in uas[: 4 * len(gen.UA_TEMPLATES)]}
    assert {"Chrome", "Safari", "Firefox", "Edge"} <= names


def test_quote_matches_urllib_on_ascii():
    from urllib.parse import quote

    samples = ["0:abc:p1", "https://shop.example.com/a?x=1&q=a+b#top", "(sitem!3!)~!",
               "".join(chr(i) for i in range(128))]
    for s in samples:
        assert gen._quote(s) == quote(s, safe="")
