"""Prefix self times and boundary counts for the traced run.

The pipeline is rebuilt as a batch over one steady-size chunk from the
package's public calls, in order. Each prefix (read; read + decode;
... ; the whole pipeline including the sink) is materialised through
the noop sink, or by the sink call itself, ``REPEATS`` times,
interleaved with the other prefixes, and its fastest wall time is
taken (noise on a shared box only ever adds time); a layer's self time
is its prefix's time minus the previous prefix's. Nothing is cached
between prefixes, so each one re-runs the work before it.

Batch DataFrames cannot run ``dedup_events_stream``
(``dropDuplicatesWithinWatermark`` is streaming-only), so the dedup
prefix is ``dropDuplicates`` on the same keys: the same shuffle and
hash aggregate, without the state store. The state store's own time
comes from the streaming listener (``streaming.state_ms``).

Row and byte counts at the same boundaries are taken after the
timings, so counting never lands in a timed call.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import functions as F

from divolte_collector_spark.functions.avro_codec import read_container
from divolte_collector_spark.sources.browser import parse_browser_events
from divolte_collector_spark.sources.json_source import parse_json_events
from divolte_collector_spark.sources.kafka_emulator import produce_batch, read_topic
from divolte_collector_spark.streaming.ingest import DEFAULT_DEDUP_KEYS
from divolte_collector_spark.streaming.sinks import kafka_frame, write_avro_files
from pipelines import browser_dsl, json_mapping, raw_batch
from schemas import CONFLUENT_ID, SCHEMAS, TOPIC

REPEATS = 2

#: every prefix layer metric; a workload reports 0 for one it lacks
ALL_STEPS = ("sources.read_ms", "sources.decode_ms", "ingest.dedup_ms",
             "mapping.apply_ms", "sinks.write_ms", "kafka_emulator.produce_ms")


def _frames(spark, workload: str, src: str) -> dict:
    """Each step's DataFrame, built from the previous step's."""
    raw = raw_batch(spark, workload, src)
    if workload == "ingest_browser_avro":
        decoded = parse_browser_events(raw)
        deduped = decoded.dropDuplicates(DEFAULT_DEDUP_KEYS)
        return {"raw": raw, "decoded": decoded, "deduped": deduped,
                "mapped": browser_dsl(deduped)}
    decoded = parse_json_events(raw)
    mapped = json_mapping(decoded)
    framed = kafka_frame(mapped, SCHEMAS[workload], mode="confluent",
                         confluent_id=CONFLUENT_ID)
    return {"raw": raw, "decoded": decoded, "deduped": decoded,
            "mapped": mapped, "framed": framed}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _calls(spark, workload: str, frames: dict, out: str) -> list:
    """(metric, zero-argument call) per prefix, in pipeline order."""
    schema = SCHEMAS[workload]
    runs = {"n": 0}

    def sink_dir() -> str:
        runs["n"] += 1
        return os.path.join(out, f"run{runs['n']:03d}")

    if workload == "ingest_browser_avro":
        return [
            ("sources.read_ms", lambda: _noop(frames["raw"])),
            ("sources.decode_ms", lambda: _noop(frames["decoded"])),
            ("ingest.dedup_ms", lambda: _noop(frames["deduped"])),
            ("mapping.apply_ms", lambda: _noop(frames["mapped"])),
            ("sinks.write_ms", lambda: write_avro_files(
                frames["mapped"], schema, sink_dir(), batch_tag="prefix")),
        ]
    return [
        ("sources.read_ms", lambda: _noop(frames["raw"])),
        ("sources.decode_ms", lambda: _noop(frames["decoded"])),
        ("mapping.apply_ms", lambda: _noop(frames["mapped"])),
        ("sinks.write_ms", lambda: _noop(frames["framed"])),
        ("kafka_emulator.produce_ms", lambda: produce_batch(
            spark, frames["framed"], sink_dir(), TOPIC, 0,
            n_partitions=spark.sparkContext.defaultParallelism)),
    ]


def _counts(spark, frames: dict, workload: str, out: str) -> dict:
    raw_n = frames["raw"].count()
    dec = frames["decoded"].agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("corrupt_event").cast("long")).alias("corrupt"),
    ).first()
    # within one chunk the watermark never expires a key, so the
    # streaming dedup keeps what a batch dropDuplicates keeps
    ded_n = frames["deduped"].count()
    last = sorted(glob.glob(os.path.join(out, "run*")))[-1]
    if workload == "ingest_browser_avro":
        files = glob.glob(os.path.join(last, "*.avro"))
        records = 0
        for path in files:
            with open(path, "rb") as fh:
                records += len(read_container(fh.read())[1])
        size = sum(os.path.getsize(p) for p in files)
    else:
        topic = read_topic(spark, last, TOPIC)
        agg = topic.agg(F.count(F.lit(1)).alias("n"),
                        F.sum(F.length("value")).alias("bytes")).first()
        files = [p for p in glob.glob(os.path.join(last, "**", "*.parquet"), recursive=True)]
        records, size = agg["n"], agg["bytes"]
    return {
        "sources.rows_in": raw_n,
        "sources.corrupt_rows": dec["corrupt"] or 0,
        "sources.keep_ratio": dec["n"] / raw_n,
        "ingest.dup_rows_dropped": dec["n"] - ded_n,
        "ingest.dedup_keep_ratio": ded_n / dec["n"],
        "sinks.files_published": len(files),
        "sinks.records_per_file": records / max(1, len(files)),
        "sinks.bytes_per_event": size / max(1, records),
    }


def prefix_metrics(spark, workload: str, pool: str, chunk: str, work: str, tracer) -> dict:
    """Self time (ms) of every layer in ``ALL_STEPS`` (0 for a layer the
    workload does not have), the whole prefix's time as
    ``trace.prefix_total_ms``, and the boundary counts. Each timed
    call is also a span under trace ``prefix``."""
    src = os.path.join(work, "src")
    out = os.path.join(work, "out")
    os.makedirs(src, exist_ok=True)
    shutil.copyfile(os.path.join(pool, chunk), os.path.join(src, chunk))
    frames = _frames(spark, workload, src)
    calls = _calls(spark, workload, frames, out)
    times: dict[str, list[float]] = {name: [] for name, _ in calls}
    root = tracer.span("prefix", time.time(), None, "prefix")
    for rep in range(REPEATS):
        for name, call in calls:
            t0 = time.time()
            call()
            t1 = time.time()
            times[name].append(t1 - t0)
            tracer.span(name, t0, t1, "prefix", root)
    tracer.spans[root]["end"] = time.time()

    layers = dict.fromkeys(ALL_STEPS, 0.0)
    prev = 0.0
    for name, _ in calls:
        best = min(times[name]) * 1000
        layers[name] = best - prev
        prev = best
    layers["trace.prefix_total_ms"] = prev
    layers.update(_counts(spark, frames, workload, out))
    return layers
