"""Streaming event-time re-sequencer — the reference's core operator.

Reproduces the Kafka Streams reorder processor
(reference: src/main/java/org/example/Application.java):

- ingest half (Application.java:86-94): buffer each record in
  persistent state keyed by event timestamp; a record whose event
  timestamp is already buffered is DROPPED (first-writer-wins dedup,
  Application.java:89-93);
- stream-time punctuation (Application.java:65-69, grace at :144):
  a timer in the EVENT-TIME domain at `first-buffered-event-time +
  grace`. A group that keeps getting input flushes in its data call
  once the trigger's watermark has passed its timer; an idle group
  flushes through the event-time timeout (the engine does not time out
  a group in a trigger that gave it input);
- ordered flush (Application.java:72-83): on fire, emit the ENTIRE
  buffer sorted ascending by event time and clear it (flush-all, not
  flush-older-than-watermark — SURVEY §2.1 note 4). A straggler that
  arrives after its epoch was flushed lands in the next flush batch,
  exactly like the reference.

Deliberate divergences (SURVEY §2.1 notes 2-3, §7.4 risk 3): output
rows keep their original columns — we do not overwrite the record key
with the synthetic store key nor restamp records with the punctuation
timestamp; the reference's own test asserts values+order only, which
this operator preserves.

Spark-first shape: state lives in the Structured Streaming state store
(RocksDB provider — same durability model as the reference's RocksDB
KV store), transport is Arrow-batched `applyInPandasWithState`, and
eviction/timers ride the engine's watermark. The per-key buffer is the
only Python-side logic; everything before/after is ordinary DataFrame
code.

Serialization: a group's whole buffer is ONE Arrow record batch in the
query's Arrow schema, stored as the batch body alone (no schema
message; the schema is fixed by the query). Ingest appends a trigger's
kept rows with `from_pandas`, the dedup set is the buffer's event-time
column, and a flush is one `take(sort_indices(...))`. Dates, decimals,
binary, arrays, structs, maps and nullable columns round-trip.
Trade-off: the batch carries a fixed framing (message header, one
8-byte-aligned buffer set per column), so a 1-row ElectronicOrder
buffer takes ~0.5 KB, about three times the same row as JSON text;
sparse keyed topologies (many groups holding a few rows each) pay that
in state bytes. From ~20 rows up the batch is the smaller encoding.

Parallelism: with `key_cols` the order is restored per key group (the
reference orders per Kafka partition; its demo runs 1 partition). With
`key_cols=None` a constant grouping key yields one global order at
parallelism 1 — the same trade-off the reference makes (SURVEY §7.4
risk 2). The state store still gets `spark.sql.shuffle.partitions`
partitions, and each runs a stateful task per trigger although only
one holds the group; the app's global-order topology
(`app.build_topology`) therefore runs this case in one state partition.
Each stateful task opens two Python worker sessions (data, then
timeouts); the package's `_zipcache` keeps PySpark's per-session
`importlib.invalidate_caches()` from re-reading unchanged zip archives,
which was the largest fixed cost of a trigger.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_GLOBAL_KEY = "__reorder_key"

# State per key group: when the pending punctuation fires (epoch ms),
# and the buffered rows as one serialized Arrow record batch in the
# query's output schema, in arrival order.
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("fire_at_ms", T.LongType()),
        T.StructField("rows", T.BinaryType()),
    ]
)


_UNIT_MS = {
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def _grace_ms(grace: str) -> int:
    """Parse '10 hours' / '1 HOUR' / '5  minutes' → milliseconds.

    Reads the interval as `withWatermark` does: case-insensitive,
    singular or plural unit, any whitespace around and between the two
    parts.
    """
    parts = grace.lower().split()
    if len(parts) != 2:
        raise ValueError(f"expected '<number> <unit>', got {grace!r}")
    qty, unit = parts
    factor = _UNIT_MS.get(unit.removesuffix("s"))
    if factor is None:
        raise ValueError(
            f"unknown unit {unit!r} in {grace!r}; accepted units: "
            f"{', '.join(_UNIT_MS)} (singular or plural)"
        )
    try:
        return int(float(qty) * factor)
    except ValueError:
        raise ValueError(f"expected '<number> <unit>', got {grace!r}") from None


def reorder_stream(
    df: DataFrame,
    ts_col: str,
    grace: str = "10 hours",
    key_cols: Sequence[str] | None = None,
    watermark_delay: str | None = None,
) -> DataFrame:
    """Re-sequence a streaming DataFrame by event time.

    Parameters
    ----------
    df: streaming DataFrame; `ts_col` must be TimestampType.
    ts_col: event-time column (the Avro `time` field analog).
    grace: punctuation interval in event time (Application.java:144).
    key_cols: restore order within these key groups; None = one global
        order (single state group — the reference's 1-partition demo).
    watermark_delay: watermark lag on `ts_col`; defaults to `grace`,
        matching the reference where grace IS the lateness horizon.
        Records later than this are dropped by the engine — a stronger
        late-data policy than the reference, which buffers arbitrarily
        late records for the next flush (SURVEY §2.1 note 4 sanctions
        adopting watermark semantics and documenting the difference);
        stragglers WITHIN the horizon land in the next flush exactly
        like the reference.
    """
    if watermark_delay is None:
        watermark_delay = grace

    out_schema = df.schema
    columns = [f.name for f in out_schema.fields]
    arrow_schema = to_arrow_schema(out_schema, timestamp_utc=False)
    grace_ms = _grace_ms(grace)

    def flush(state: GroupState, buf: pa.RecordBatch) -> pd.DataFrame:
        state.remove()
        ordered = buf.take(pc.sort_indices(buf.column(ts_col)))
        # Spark reads a map column back from pandas as dicts only.
        return ordered.to_pandas(maps_as_pydicts="strict")

    def handle(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Punctuation: drain the whole buffer in event-time order
            # (Application.java:72-83) and clear. The next record to
            # arrive re-registers a timer, which is observationally the
            # reference's periodic schedule (a periodic fire over an
            # empty store forwards nothing).
            _, rows = state.get
            yield flush(state, pa.ipc.read_record_batch(rows, arrow_schema))
            return

        if state.exists:
            fire_at_ms, rows = state.get
            batches = [pa.ipc.read_record_batch(rows, arrow_schema)]
            seen = set(batches[0].column(ts_col).cast(pa.int64()).to_pylist())
        else:
            fire_at_ms, batches, seen = 0, [], set()

        for pdf in pdfs:
            # `_dedup_batch` is pickled by reference, so the worker's
            # first session imports this package, whose `_zipcache`
            # then spares every later session on that reused worker
            # the zip re-reads of `importlib.invalidate_caches()`.
            new, new_ts = _dedup_batch(pdf, ts_col, seen)
            if new is None:
                continue
            seen.update(new_ts)
            batches.append(
                pa.RecordBatch.from_pandas(
                    new[columns], schema=arrow_schema, preserve_index=False
                )
            )

        if not batches:
            return
        buf = pa.Table.from_batches(batches).combine_chunks().to_batches()[0]

        if fire_at_ms == 0:
            # First buffered record after a flush schedules the next
            # punctuation one grace later in event time.
            fire_at_ms = min(seen) // 1000 + grace_ms
        if fire_at_ms < state.getCurrentWatermarkMs():
            # The watermark passed the timer before this trigger. A
            # timer cannot be armed below the watermark, so a group fed
            # every trigger never times out: it flushes here instead
            # (ingest, then flush-all, the same drain as the timeout).
            yield flush(state, buf)
            return
        state.update((fire_at_ms, buf.serialize().to_pybytes()))
        # Timeout info is cleared on every invocation, so the timer is
        # armed again; here `fire_at_ms` is never below the watermark.
        state.setTimeoutTimestamp(fire_at_ms)

    # A NULL event time cannot be placed on the event-time axis (no
    # watermark comparison, no buffer sort key) — drop the record, the
    # analog of Kafka Streams' GENERIC invalid-timestamp handling
    # (LogAndSkipOnInvalidTimestamp). The reference itself never hits
    # this: its extractor (Application.java:99) returns the
    # non-nullable Avro `time` long directly, so NULL is an edge only
    # this engine's nullable-column inputs can produce. Pinned by
    # tests/test_reorder_stream.py::test_all_null_event_time_rows_are_dropped.
    stream = df.filter(F.col(ts_col).isNotNull()).withWatermark(
        ts_col, watermark_delay
    )
    if key_cols:
        grouped = stream.groupBy(*key_cols)
    else:
        stream = stream.withColumn(_GLOBAL_KEY, F.lit(0))
        grouped = stream.groupBy(_GLOBAL_KEY)

    out = grouped.applyInPandasWithState(
        handle,
        outputStructType=out_schema,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return out.select(*columns)


def _dedup_batch(
    pdf: pd.DataFrame, ts_col: str, seen: set
) -> tuple[pd.DataFrame | None, list[int]]:
    """Vectorized first-writer-wins (Application.java:89-93): drop rows
    whose event timestamp is already buffered or duplicated earlier in
    this batch. Returns (kept rows, their epoch-µs timestamps)."""
    if pdf.empty:
        return None, []
    micros = pdf[ts_col].astype("datetime64[us]").astype("int64")
    keep = (~micros.duplicated()) & (~micros.isin(seen))
    if not keep.any():
        return None, []
    new = pdf.loc[keep.values]
    return new, micros.loc[keep.values].tolist()
