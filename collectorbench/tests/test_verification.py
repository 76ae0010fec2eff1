"""Output verification against the manifest."""

import copy

import pytest

import gen
from verify import verify


@pytest.fixture(scope="module")
def manifest(tmp_path_factory):
    old = gen.CHUNK_EVENTS
    gen.CHUNK_EVENTS = dict.fromkeys(gen.WORKLOADS, 100)
    try:
        return gen.generate("ingest_browser_avro", 11, 2, str(tmp_path_factory.mktemp("m")))
    finally:
        gen.CHUNK_EVENTS = old


def _perfect_sink(chunks):
    return [(p, s, e, bool(c)) for ch in chunks for p, s, e, kept, c in ch["events"] if kept]


def test_exact_output_has_no_failures(manifest):
    chunks = manifest["chunks"]
    r = verify(chunks, _perfect_sink(chunks))
    assert r["failed"] == 0
    assert r["attempted"] == sum(ch["requests"] for ch in chunks)


def test_corrupted_manifest_makes_error_rate_nonzero(manifest):
    chunks = copy.deepcopy(manifest["chunks"])
    observed = _perfect_sink(chunks)
    ev = chunks[0]["events"]
    kept = [row for row in ev if row[3]]
    kept[0][4] = 1 - kept[0][4]  # flag flipped
    kept[1][3] = 0  # a published event the manifest says is dropped
    ev.append(["0:x:p", "0:x:s", "e-never-sent", 1, 0])  # expected, never in the sink
    r = verify(chunks, observed)
    assert r["kinds"]["misflagged"] == 1
    assert r["kinds"]["unexpected"] == 1
    assert r["kinds"]["missing"] == 1
    assert r["failed"] == 3 and r["failed"] / r["attempted"] > 0


def test_duplicates_and_wrong_schema_count(manifest):
    chunks = manifest["chunks"]
    observed = _perfect_sink(chunks)
    r = verify(chunks, observed + observed[:2], extra_failures=4)
    assert r["kinds"]["duplicated"] == 2 and r["kinds"]["wrong_schema"] == 4
    assert r["failed"] == 6
