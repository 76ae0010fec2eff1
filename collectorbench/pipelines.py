"""The two collector topologies the benchmark drives.

Both are built through the package's config surface
(``streaming.config.build_topology``) from a reference.conf-shaped
dict, with a registered mapping script:

- ``ingest_browser_avro``: ``divolte-wirelog`` stream of ``GET
  /csc-event`` access-log lines -> ``browser`` decode -> mapping script
  = ``dedup_events_stream`` then a ``MappingBuilder`` mapping (URI
  decomposition of the location, user-agent parse, conditional maps)
  -> ``hdfs`` sink, Avro containers via ``avro_file_sink``;
- ``ingest_json_kafka``: Spark file stream of JSON-POST request lines
  -> ``json`` decode -> mapping script of JVM DSL operators only, no
  dedup -> ``kafka`` sink, written Confluent-framed by
  ``emulated_kafka_sink``.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from divolte_collector_spark.functions.uri import uri_host, uri_path, uri_raw_query
from divolte_collector_spark.functions.useragent import user_agent_struct
from divolte_collector_spark.mapping import MappingBuilder
from divolte_collector_spark.streaming.ingest import dedup_events_stream
from schemas import BROWSER_SCHEMA, CONFLUENT_ID, JSON_SCHEMA

#: JSON-POST request lines as the generator writes them
JSON_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("party_id_param", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("request_time", T.TimestampType()),
    ]
)


class MappingTimer:
    """Wraps a mapping script to record how long building it took
    (the DSL construction plus its analysis-time type checks)."""

    def __init__(self, fn):
        self.fn = fn
        self.t0 = self.t1 = None  # epoch seconds of the last build

    def __call__(self, df: DataFrame) -> DataFrame:
        self.t0 = time.time()
        out = self.fn(df)
        self.t1 = time.time()
        return out


def browser_mapping(df: DataFrame) -> DataFrame:
    """Dedup within the watermark, then the DSL mapping."""
    return browser_dsl(dedup_events_stream(df))


def browser_dsl(df: DataFrame) -> DataFrame:
    m = MappingBuilder(BROWSER_SCHEMA)
    for f in ("party_id", "session_id", "event_id", "event_type"):
        m.map_value(F.col(f), f)
    m.map_value(F.unix_millis(F.col("client_time")), "client_ms")
    m.map_value(F.col("corrupt_event"), "corrupt")
    loc = F.col("browser.location")
    m.map_value(loc, "location")
    m.map_value(uri_host(loc), "location_host")
    m.map_value(uri_path(loc), "location_path")
    m.map_value(uri_raw_query(loc), "location_query")
    ua = user_agent_struct(F.col("user_agent"))
    m.map_value(ua.getField("name"), "ua_name")
    m.map_value(ua.getField("os_family"), "ua_os")
    m.map_value(ua.getField("device_category"), "ua_device")
    m.map_literal("other", "kind")
    with m.when(F.col("event_type") == "pageView"):
        m.map_literal("view", "kind")
    with m.when(F.col("event_type") == "purchase"):
        m.map_literal("conversion", "kind")
    with m.when(F.col("first_in_session")):
        m.map_literal(True, "session_start")
    m.map_value(F.col("event_parameters"), "params")
    # the Avro sink rolls files on client_time; it is not a schema field
    return m.apply(df).withColumn("client_time", F.timestamp_millis("client_ms"))


def json_mapping(df: DataFrame) -> DataFrame:
    """JVM operators only: no Python UDF, no state."""
    m = MappingBuilder(JSON_SCHEMA)
    for f in ("party_id", "session_id", "event_id", "event_type"):
        m.map_value(F.col(f), f)
    m.map_value(F.unix_millis(F.col("client_time")), "client_ms")
    m.map_value(F.col("corrupt_event"), "corrupt")
    m.map_value(F.col("new_party_id"), "new_party")
    m.map_value(
        F.get_json_object(F.col("event_parameters"), "$.item").cast("long"), "item"
    )
    m.map_literal("other", "kind")
    with m.when(F.col("event_type") == "purchase"):
        m.map_literal("conversion", "kind")
    with m.when(F.col("first_in_session")):
        m.map_literal(True, "session_start")
    m.map_value(F.col("event_parameters"), "params")
    return m.apply(df)


def topology_config(workload: str, sink_dir: str) -> dict:
    if workload == "ingest_browser_avro":
        return {
            "sources": {"browser": {"type": "browser"}},
            "mappings": {
                "clickstream": {
                    "sources": ["browser"],
                    "sinks": ["hdfs"],
                    "mapping_script": "browser_mapping",
                }
            },
            "sinks": {
                "hdfs": {"type": "hdfs", "path": sink_dir, "avro_schema": BROWSER_SCHEMA}
            },
        }
    return {
        "sources": {"json": {"type": "json"}},
        "mappings": {
            "clickstream": {
                "sources": ["json"],
                "sinks": ["kafka"],
                "mapping_script": "json_mapping",
            }
        },
        "sinks": {
            "kafka": {
                "type": "kafka",
                "avro_schema": JSON_SCHEMA,
                "mode": "confluent",
                "confluent_id": CONFLUENT_ID,
            }
        },
    }


def raw_stream(spark: SparkSession, workload: str, src_dir: str) -> DataFrame:
    """The transport: a stream over the chunk directory."""
    if workload == "ingest_browser_avro":
        return (
            spark.readStream.format("divolte-wirelog")
            .load(src_dir)
            .filter(F.col("path") == "/csc-event")
        )
    return spark.readStream.schema(JSON_REQUEST_SCHEMA).json(src_dir)


def raw_batch(spark: SparkSession, workload: str, src_dir: str) -> DataFrame:
    """The same transport read as a batch (the traced prefix runs)."""
    if workload == "ingest_browser_avro":
        return (
            spark.read.format("divolte-wirelog")
            .load(src_dir)
            .filter(F.col("path") == "/csc-event")
        )
    return spark.read.schema(JSON_REQUEST_SCHEMA).json(src_dir)
