"""Application lifecycle — the analog of `Application.main`
(reference: src/main/java/org/example/Application.java:110-171):

    properties file → config → session → topology (source → reorder →
    sink) → start → await termination, with graceful shutdown.

Differences, deliberate and Spark-idiomatic:
  - `cleanUp()` + shutdown-latch (Application.java:152-165) become a
    checkpoint directory + `query.stop()` in a finally block: Spark's
    checkpoint IS the recovery story, so state is never wiped on boot;
  - the topology is a Structured Streaming plan, not a processor DAG.

The topology keeps one global order, so its reorder stage has exactly
one state group, and it always runs that stage in ONE state partition:
one stateful task, one RocksDB commit and two Python worker sessions
per trigger instead of one of each per shuffle partition, all but one
of them empty. `spark.sql.shuffle.partitions` still sizes batch queries
and keyed `reorder_stream(key_cols=...)` topologies, which scale out by
key. A checkpoint keeps the partition count it started with: Spark
restores it from the offset log, so a checkpoint first written with N
partitions restarts with N.

Source/sink selection is config-driven so the same `run()` drives a
real Kafka deployment or a file-based run (tests, containers without
the Kafka connector): `source.format=kafka|parquet`.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession

from .config import EngineConfig, load_properties
from .schemas import ELECTRONIC_ORDER
from .session import get_spark
from .sources import kafka as kafka_io
from .streaming.reorder import reorder_stream


def _topology_session(spark: SparkSession) -> SparkSession:
    """A new session for the topology, with one state partition.

    It carries over the SQL confs `spark` has that a new session would
    not (those set at runtime, e.g. by `get_spark` on an existing
    session); the caller's session itself is left as it was.
    """
    topo = spark.newSession()
    fresh = topo.conf.getAll
    for k, v in spark.conf.getAll.items():
        if fresh.get(k) != v and spark.conf.isModifiable(k):
            topo.conf.set(k, v)
    topo.conf.set("spark.sql.shuffle.partitions", "1")
    return topo


def build_topology(spark: SparkSession, cfg: EngineConfig, props: dict[str, str]):
    """source → reorder → sink, returning the started StreamingQuery
    (Application.java:140-147's builder chain).

    The query runs in a new session of `spark` with
    `spark.sql.shuffle.partitions=1`, the one state partition its one
    global group needs (see the module docstring); it is therefore not
    listed in `spark.streams`.
    """
    spark = _topology_session(spark)
    fmt = props.get("source.format", "kafka")
    if fmt == "kafka":
        src = kafka_io.read_order_stream(
            spark, cfg.bootstrap_servers, cfg.input_topic
        )
    elif fmt == "parquet":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        schema = T.StructType(
            ELECTRONIC_ORDER.fields
            + [T.StructField("event_time", T.TimestampType(), True)]
        )
        src = spark.readStream.schema(schema).parquet(props["source.path"])
    else:
        raise ValueError(f"unknown source.format {fmt!r}")

    reordered = reorder_stream(src, ts_col="event_time", grace=cfg.grace)

    if fmt == "kafka":
        return kafka_io.write_order_stream(
            reordered,
            spark,
            cfg.bootstrap_servers,
            cfg.output_topic,
            cfg.checkpoint_dir,
        )
    writer = (
        reordered.writeStream.format(props.get("sink.format", "parquet"))
        .option("path", props["sink.path"])
        .option("checkpointLocation", cfg.checkpoint_dir)
    )
    if props.get("trigger", "") == "available-now":
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run(properties_path: str, timeout_sec: float | None = None) -> None:
    """Load config, run the topology to termination (Ctrl-C stops the
    query gracefully — the shutdown-hook analog)."""
    props = load_properties(properties_path)
    cfg = EngineConfig.from_properties(properties_path)
    spark = get_spark(app_name="reorder-app", extra_conf=cfg.spark_conf)
    query = build_topology(spark, cfg, props)
    try:
        if timeout_sec is not None:
            query.awaitTermination(timeout_sec)
            query.stop()
        else:
            query.awaitTermination()
    except KeyboardInterrupt:
        query.stop()


def main(argv: list[str] | None = None) -> int:
    args = argv if argv is not None else sys.argv[1:]
    if len(args) != 1:
        print("usage: python -m kafka_streams_reorder_timestamp_spark.app <app.properties>", file=sys.stderr)
        return 2
    run(args[0])
    return 0


if __name__ == "__main__":
    sys.exit(main())
