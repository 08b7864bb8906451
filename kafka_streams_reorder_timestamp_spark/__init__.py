"""PySpark-native analytics engine with the capabilities of
cloudpro-dev/kafka-streams-reorder-timestamp.

The reference (`/root/reference/`) is a Kafka Streams event-time
re-sequencer: it buffers out-of-order records in a persistent KV store
keyed by event timestamp and flushes them chronologically on a
stream-time punctuation every 10 hours of event time, dropping records
whose event timestamp was already buffered
(reference: src/main/java/org/example/Application.java:86-94, 72-83).

This package re-expresses those semantics Spark-first (DataFrame/SQL +
Structured Streaming + Catalyst) and extends them with the relational
core and large-scale training-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) that a 100 TB
deployment of such an engine needs.

Layout:
    session        SparkSession factory (scale-aware conf)
    schemas        fixed StructType schemas (no inference)
    config         .properties loader (mirror of StreamsUtils.java:16-27)
    sources        batch/stream readers, Kafka+Avro boundary, table catalog
    operators      batch operators: reorder, dedup, similarity, text,
                   multimodal, relational query builders
    streaming      stateful streaming reorder + window helpers
    functions      column-level helpers (vector math, hashing, text)
    plans          plan-inspection utilities (pushdown/broadcast asserts)
"""

from . import _zipcache  # noqa: F401  (installs the zipimport stamp check)

__version__ = "0.1.0"
