"""Single-threaded kernel timings, without Spark, on generated inputs.

Each kernel runs over one generated browser chunk (the wire kernels)
or the workload's own records (the Avro encoders) ``REPEATS`` times;
the median pass is reported per item in microseconds. The per-process
caches in front of the user-agent parser and the mincode decoder are
bypassed, so the figures are the parse cost itself.

How often those caches would hit is reported beside the timings: the
user agents of the second chunk through an LRU cache of the parser's
own size, warmed on the first chunk; and the mincode payloads of both
chunks through an unbounded cache, an upper bound for the decoder's
LRU cache.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
from urllib.parse import parse_qsl

from divolte_collector_spark.functions.avro_codec import (
    container_block,
    default_sync_marker,
    encode_record,
)
from divolte_collector_spark.functions.mincode import mincode_to_json
from divolte_collector_spark.functions.murmur import murmur3_32_signed_batch
from divolte_collector_spark.functions.useragent import classify_user_agent
from divolte_collector_spark.sources.browser import decode_wire_batch
from divolte_collector_spark.sources.wirelog import parse_line
from schemas import SCHEMAS

REPEATS = 3


def _per_item_us(fn, n: int) -> float:
    passes = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        passes.append(time.perf_counter() - t0)
    return statistics.median(passes) * 1e6 / max(1, n)


def _records(workload: str, decoded: dict, uas: list[str]) -> list[dict]:
    """Records shaped like the workload's mapped output, from the
    decoded wire fields."""
    fields = [f["name"] for f in SCHEMAS[workload]["fields"]]
    out = []
    for i, party in enumerate(decoded["party_id"]):
        if party is None:
            continue
        rec = dict.fromkeys(fields)
        rec.update(
            party_id=party,
            session_id=decoded["session_id"][i],
            event_id=decoded["event_id"][i],
            event_type=decoded["event_type"][i],
            client_ms=1_767_600_000_000 + i,
            corrupt=bool(decoded["corrupt_event"][i]),
            kind="view",
            session_start=False,
            params=decoded["event_parameters"][i],
        )
        if "location" in rec:
            rec.update(location="https://shop.example.com/product/item-1",
                       location_host="shop.example.com",
                       location_path="/product/item-1", location_query="ref=view",
                       ua_name=classify_user_agent(uas[i])[0], ua_os="Linux",
                       ua_device="PERSONAL_COMPUTER")
        else:
            rec.update(new_party=False, item=i % 500)
        out.append(rec)
    return out


def _read(path: str) -> tuple[list[str], list[str], list[str]]:
    """(query strings, user agents, mincode payloads) of an access log."""
    with open(path, encoding="utf-8") as fh:
        parsed = [parse_line(line) for line in fh]
    qs = [p[3] for p in parsed]
    return qs, [p[4] for p in parsed], [v for q in qs for k, v in parse_qsl(q) if k == "u"]


def _hit_share(cache, warm: list[str], measured: list[str]) -> float:
    for x in warm:
        cache(x)
    before = cache.cache_info()
    for x in measured:
        cache(x)
    after = cache.cache_info()
    hits = after.hits - before.hits
    return hits / max(1, hits + after.misses - before.misses)


def kernel_metrics(workload: str, kernel_dir: str) -> dict:
    """``functions.*`` metrics over two generated browser chunks in
    ``kernel_dir``: microseconds per item on the second, cache hit
    shares as the module docstring says."""
    _, warm_uas, warm_codes = _read(os.path.join(kernel_dir, "chunk-00000.log"))
    qs, uas, codes = _read(os.path.join(kernel_dir, "chunk-00001.log"))
    decoded = decode_wire_batch(qs)
    records = _records(workload, decoded, uas)
    schema = SCHEMAS[workload]
    sync = default_sync_marker(schema)
    parse_ua = classify_user_agent.__wrapped__
    ua_cache = functools.lru_cache(classify_user_agent.cache_parameters()["maxsize"])(parse_ua)
    return {
        "functions.user_agent_cache_hit_share": _hit_share(ua_cache, warm_uas, uas),
        "functions.mincode_cache_hit_share": _hit_share(
            functools.lru_cache(None)(mincode_to_json), warm_codes, codes),
        "functions.decode_wire_batch_us": _per_item_us(lambda: decode_wire_batch(qs), len(qs)),
        "functions.mincode_to_json_us": _per_item_us(
            lambda: [mincode_to_json(c) for c in codes], len(codes)),
        "functions.murmur3_batch_us": _per_item_us(lambda: murmur3_32_signed_batch(qs), len(qs)),
        "functions.user_agent_us": _per_item_us(lambda: [parse_ua(u) for u in uas], len(uas)),
        "functions.container_block_us": _per_item_us(
            lambda: container_block(schema, records, sync), len(records)),
        "functions.encode_record_us": _per_item_us(
            lambda: [encode_record(schema, r) for r in records], len(records)),
    }
