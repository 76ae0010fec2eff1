"""The measured process: one fresh Python driver + JVM per run.

Started by ``run.py`` after the load is rendered. It

1. sets the collector up once (Spark session, source registration,
   Python worker warm-up, topology build, query start) and reports the
   time from the spawn of the process to ready;
2. publishes chunks as a closed loop of one outstanding chunk: rename a
   pre-rendered chunk into the source directory, then
   ``processAllAvailable()``. The first chunk is the cold chunk; the
   next ``settings.WARM_CHUNKS`` are not measured; the rest until
   ``--seconds`` elapse (and at least ``settings.MIN_STEADY_CHUNKS``
   chunks) form the steady window;
3. with ``--trace 1`` additionally attaches a ``StreamingQueryListener``
   and records spans, then after the window times each public call of
   the pipeline on one steady-size chunk (prefix self times, see
   ``prefix.py``) and the single-threaded kernels (``kernels.py``);
4. collects what verification needs (the Kafka topic is decoded here;
   Avro containers are read by ``run.py``) and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import sampler  # noqa: E402
import settings  # noqa: E402
from pipelines import (  # noqa: E402
    MappingTimer,
    browser_mapping,
    json_mapping,
    raw_stream,
    topology_config,
)
from schemas import CONFLUENT_ID, SCHEMAS, TOPIC  # noqa: E402
from spans import Tracer  # noqa: E402


def _warm_fn(batches):
    # the modules the pipeline's Python stages import, loaded once per
    # worker so that first-touch imports land in set-up, not in a chunk
    import numpy  # noqa: F401

    from divolte_collector_spark.functions import avro_codec, mincode, murmur, useragent  # noqa: F401
    from divolte_collector_spark.sources import browser, kafka_emulator  # noqa: F401

    yield from batches


class Collector:
    """One set-up of the collector: session, topology, running query."""

    def __init__(self, workload: str, root: str, nproc: int, tracer: Tracer | None):
        self.workload = workload
        self.root = root
        self.src = os.path.join(root, "src")
        self.sink = os.path.join(root, "sink")
        self.ckpt = os.path.join(root, "ckpt")
        for d in (self.src, self.sink):
            os.makedirs(d, exist_ok=True)
        self.nproc = nproc
        self.tracer = tracer
        self.calls: list[tuple[str, float, float]] = []  # (name, start, end)

    def _timed(self, name: str, fn):
        t0 = time.time()
        out = fn()
        self.calls.append((name, t0, time.time()))
        return out

    def start(self) -> None:
        from divolte_collector_spark.session import get_spark
        from divolte_collector_spark.sources.kafka_emulator import emulated_kafka_sink
        from divolte_collector_spark.sources.wirelog import WireLogDataSource
        from divolte_collector_spark.streaming.config import build_topology
        from divolte_collector_spark.streaming.sinks import avro_file_sink

        spark = self._timed(
            "session.get_spark", lambda: get_spark("collectorbench", cpus=str(self.nproc))
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        dp = spark.sparkContext.defaultParallelism
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if dp != self.nproc or parts != self.nproc:
            raise SystemExit(
                f"parallelism mismatch: defaultParallelism={dp}, "
                f"shuffle.partitions={parts}, nproc={self.nproc}"
            )
        self.default_parallelism = dp

        self._timed("session.worker_warm", lambda: spark.range(
            self.nproc * 64, numPartitions=self.nproc
        ).mapInPandas(_warm_fn, "id long").write.format("noop").mode("overwrite").save())

        if self.tracer is not None:
            self.tracer.attach(spark)

        spark.dataSource.register(WireLogDataSource)
        script = MappingTimer(
            browser_mapping if self.workload == "ingest_browser_avro" else json_mapping
        )
        registry = {"browser_mapping": script, "json_mapping": script}

        def topology():
            raw = raw_stream(spark, self.workload, self.src)
            cfg = topology_config(self.workload, self.sink)
            topo = build_topology(cfg, {next(iter(cfg["sources"])): raw}, registry)
            return next(iter(topo.sink_inputs().values()))

        mapped = self._timed("config.build_topology", topology)
        self.calls.append(("mapping.build", script.t0, script.t1))

        schema = SCHEMAS[self.workload]
        if self.workload == "ingest_browser_avro":
            writer = avro_file_sink(
                mapped, self.sink, self.ckpt, schema, trigger_seconds=None
            )
        else:
            writer = emulated_kafka_sink(
                mapped, self.sink, TOPIC, self.ckpt, schema,
                mode="confluent", confluent_id=CONFLUENT_ID, n_partitions=self.nproc,
            )
        self.query = self._timed("query.start", writer.start)

    @staticmethod
    def layers_of(calls: list) -> dict[str, float]:
        """A set-up's per-layer metrics from its timed calls."""
        d = {name: t1 - t0 for name, t0, t1 in calls}
        return {
            "session.get_spark_s": d["session.get_spark"],
            "session.worker_warm_s": d["session.worker_warm"],
            "config.build_topology_ms": d["config.build_topology"] * 1000,
            "mapping.build_ms": d["mapping.build"] * 1000,
        }

    def publish(self, pool: str, name: str) -> float:
        """Rename one chunk in and wait until it is processed; returns
        the chunk latency in seconds."""
        t0 = time.perf_counter()
        os.rename(os.path.join(pool, name), os.path.join(self.src, name))
        self.query.processAllAvailable()
        return time.perf_counter() - t0

    def stop(self) -> None:
        self.query.stop()
        if self.tracer is not None:
            self.tracer.detach(self.spark)


def _observed_topic(spark, log_dir: str) -> list:
    from pyspark.sql import functions as F

    from divolte_collector_spark.sources.kafka_emulator import read_topic
    from divolte_collector_spark.sources.kafka_source import decode_kafka_events

    decoded = decode_kafka_events(
        read_topic(spark, log_dir, TOPIC),
        SCHEMAS["ingest_json_kafka"],
        mode="confluent",
        expected_confluent_id=CONFLUENT_ID,
    )
    rows = decoded.select(
        "party_id", "session_id", "event_id", "corrupt", F.col("_schema_id")
    ).collect()
    return [list(r) for r in rows]


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawn-time", type=float, required=True)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    pool = os.path.join(args.work, "pool")
    with open(os.path.join(args.work, "plan.json")) as fh:
        chunks = json.load(fh)["chunks"]
    me = os.getpid()
    tracer = Tracer() if args.trace else None

    col = Collector(args.workload, os.path.join(args.work, "collector"), nproc, tracer)
    col.start()
    t_ready = time.time()
    # with tracing, the last chunk is never streamed: it feeds the prefix runs
    usable = chunks[:-1] if tracer is not None else chunks
    cold_s = col.publish(pool, usable[0]["file"])
    done = 1
    while done < len(usable) and done <= settings.WARM_CHUNKS:
        col.publish(pool, usable[done]["file"])
        done += 1
    warm_chunks = done - 1

    lat, events = [], 0
    if tracer is not None:
        tracer.begin_window(col.query)
    cpu0 = sampler.cpu_seconds(sampler.snapshot(me))
    t_start = time.time()
    w0 = time.perf_counter()
    for c in usable[done:]:
        if tracer is not None:
            tracer.begin_chunk(len(lat))
        dt = col.publish(pool, c["file"])
        if tracer is not None:
            tracer.end_chunk(col.query)
        lat.append(dt)
        events += c["published"]
        done += 1
        if (time.perf_counter() - w0 >= args.seconds
                and len(lat) >= settings.MIN_STEADY_CHUNKS):
            break
    window_s = time.perf_counter() - w0
    t_end = time.time()
    cpu1 = sampler.cpu_seconds(sampler.snapshot(me))
    # a program much faster than MIN_CHUNK_S assumes ends the window
    # early, on the last chunk, rather than failing the run
    exhausted = len(lat) < settings.MIN_STEADY_CHUNKS

    phases = {"setup_s": t_ready - args.spawn_time, "cold_and_warm_s": t_start - t_ready,
              "steady_s": t_end - t_start}
    layers = {}
    if tracer is not None:
        layers = tracer.layer_metrics(lat)
    col.stop()

    if tracer is not None:
        from kernels import kernel_metrics
        from prefix import prefix_metrics

        t = time.time()
        layers.update(prefix_metrics(col.spark, args.workload, pool, chunks[-1]["file"],
                                     os.path.join(args.work, "prefix"), tracer))
        phases["prefix_s"] = time.time() - t
        t = time.time()
        layers.update(kernel_metrics(args.workload, os.path.join(args.work, "kernel")))
        phases["kernels_s"] = time.time() - t
        layers["trace.batch_p50_ms"] = statistics.median(lat) * 1000
        layers["trace.prefix_share"] = (
            layers["trace.prefix_total_ms"] / layers["streaming.add_batch_ms"]
        )
        layers.update(Collector.layers_of(col.calls))
        root = tracer.span("setup", args.spawn_time, t_ready, "setup")
        for name, t0, t1 in col.calls:
            tracer.span(name, t0, t1, "setup", root)
        tracer.write(os.path.join(args.work, "spans.json"))

    observed = None
    if args.workload == "ingest_json_kafka":
        observed = _observed_topic(col.spark, col.sink)
    col.spark.stop()
    phases["total_s"] = time.time() - args.spawn_time

    print(json.dumps({
        "measured": {
            "default_parallelism": col.default_parallelism,
            "setup_s": t_ready - args.spawn_time,
            "t_steady_start": t_start,
            "t_steady_end": t_end,
            "cold_s": cold_s,
            "warm_chunks": warm_chunks,
            "latencies_s": lat,
            "window_s": window_s,
            "published": events,
            "chunks_done": done,
            "pool_exhausted": exhausted,
            "window_cut_by_pool": window_s < args.seconds,
            "cpu_s": cpu1 - cpu0,
            "sink_dir": col.sink,
            "observed": observed,
            "layers": layers,
            "phases": phases,
        }
    }))


if __name__ == "__main__":
    main()
