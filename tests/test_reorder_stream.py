"""Streaming port of the reference's topology test plus the edge cases
it lacks (duplicate event timestamps, straggler within grace).

ApplicationTest.java:104-127 pipes 12 out-of-order records through the
TopologyTestDriver and asserts the sorted value list. Here the same
records flow through a file source → reorder_stream → parquet sink
with Trigger.AvailableNow; the run's trailing no-data micro-batch
advances the watermark and fires the punctuation timer, the analog of
pipeInput advancing stream time and firing punctuation synchronously.
"""

from __future__ import annotations

import glob
import json
import os

import pandas as pd
import pytest
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_streams_reorder_timestamp_spark.schemas import ELECTRONIC_ORDER
from kafka_streams_reorder_timestamp_spark.streaming import reorder_stream
from kafka_streams_reorder_timestamp_spark.streaming.reorder import _grace_ms
from tests.test_reorder_batch import EXPECTED_ORDER_IDS, GOLDEN_INPUT, ts

STREAM_SCHEMA = T.StructType(
    ELECTRONIC_ORDER.fields + [T.StructField("event_time", T.TimestampType(), True)]
)


def write_input(spark, rows, path, n):
    df = spark.createDataFrame(rows, schema=ELECTRONIC_ORDER).withColumn(
        "event_time", F.timestamp_millis(F.col("time"))
    )
    df.coalesce(1).write.mode("append").parquet(str(path))
    assert spark.read.parquet(str(path)).count() == n


def run_once(spark, in_dir, out_dir, ckpt, grace="10 hours", key_cols=None,
             max_files=None):
    reader = spark.readStream.schema(STREAM_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    src = reader.parquet(str(in_dir))
    out = reorder_stream(src, ts_col="event_time", grace=grace, key_cols=key_cols)
    q = (
        out.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def read_output(out_dir) -> pd.DataFrame:
    """Concatenate sink part-files preserving within-file row order
    (each flush is one task writing one file, so file order IS emission
    order)."""
    # Filenames are UUID-random; modification time orders the flushes.
    parts = sorted(glob.glob(f"{out_dir}/part-*.parquet"), key=os.path.getmtime)
    frames = [pq.read_table(p).to_pandas() for p in parts]
    frames = [f for f in frames if len(f)]
    if not frames:
        return pd.DataFrame(columns=[f.name for f in STREAM_SCHEMA.fields])
    return pd.concat(frames, ignore_index=True)


def batch_of_files(log_dir) -> dict[str, int]:
    """File name -> id of the micro-batch that logged it, from a
    streaming metadata log: the sink's `_spark_metadata` or the
    checkpoint's `sources/0`. Each batch's log file is a version line,
    then one JSON entry per file."""
    out = {}
    for p in glob.glob(f"{log_dir}/*"):
        batch = os.path.basename(p)
        if not batch.isdigit():
            continue
        with open(p) as f:
            for line in f.read().splitlines()[1:]:
                out[os.path.basename(json.loads(line)["path"])] = int(batch)
    return out


def rows_by_batch(data_dir, log_dir) -> pd.DataFrame:
    """Rows of the parquet files a metadata log lists, each with the id
    of the batch that logged its file, in batch then file-row order."""
    frames = [
        pq.read_table(f"{data_dir}/{name}").to_pandas().assign(batch=b)
        for name, b in sorted(batch_of_files(log_dir).items(), key=lambda e: e[1])
    ]
    return pd.concat(frames, ignore_index=True)


HOUR_MS = 3_600_000


def test_golden_reorder_stream(spark, tmp_path):
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"

    # All 12 golden records in one run. The data batch buffers them
    # (timer at first_ts + 10h = 11-04T09:00); after the batch the
    # watermark advances to 11-05T00:00 - grace = 11-04T14:00, past the
    # timer, so the trailing no-data batch fires punctuation: the whole
    # buffer drains in event-time order.
    write_input(spark, GOLDEN_INPUT, in_dir, 12)
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    assert list(got["order_id"]) == EXPECTED_ORDER_IDS
    # Values are untouched (no key rewriting, no restamping).
    golden = {r[0]: r for r in GOLDEN_INPUT}
    for _, row in got.iterrows():
        exp = golden[row["order_id"]]
        assert (row["electronic_id"], row["user_id"], row["price"], row["time"]) == (
            exp[1],
            exp[2],
            exp[3],
            exp[4],
        )


def test_duplicate_timestamp_dropped(spark, tmp_path):
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    dup = ("13-dup", "one", "impostor", 999.0, GOLDEN_INPUT[3][4])  # same ts as "4"
    write_input(spark, GOLDEN_INPUT + [dup], in_dir, 13)
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    # first-writer-wins: the duplicate-timestamp record is dropped
    # (Application.java:89-93)
    assert list(got["order_id"]) == EXPECTED_ORDER_IDS
    assert "13-dup" not in set(got["order_id"])


def test_straggler_lands_in_next_flush(spark, tmp_path):
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    write_input(spark, GOLDEN_INPUT, in_dir, 12)
    run_once(spark, in_dir, out_dir, ckpt)
    assert list(read_output(out_dir)["order_id"]) == EXPECTED_ORDER_IDS

    # Straggler: within the grace horizon (watermark is 11-04T14:00)
    # but older than already-flushed records — it arrived after its
    # epoch's flush, so it is buffered for the NEXT flush, reordered
    # only locally (SURVEY §2.1 note 4, the reference's exact behavior).
    straggler = ("0-late", "one", "tardy", 1.0, ts("2021-11-04T18:00:00Z"))
    write_input(spark, [straggler], in_dir, 13)
    run_once(spark, in_dir, out_dir, ckpt)
    assert len(read_output(out_dir)) == 12  # no new flush yet

    # A later record advances the watermark past the new timer; the
    # second flush drains straggler AND the fresh record (flush-all,
    # Application.java:73-81 drains the entire store).
    late_sentinel = ("13", "one", "closer", 5.0, ts("2021-11-06T00:00:00Z"))
    write_input(spark, [late_sentinel], in_dir, 14)
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    assert len(got) == 14
    assert list(got["order_id"])[12:] == ["0-late", "13"]


@pytest.mark.parametrize("key_cols", [None, ["electronic_id"]], ids=["global", "keyed"])
def test_timer_fires_while_input_keeps_arriving(spark, tmp_path, key_cols):
    """A group that gets input in every trigger still flushes once the
    watermark passes `first buffered + grace`: the reference's
    stream-time punctuation fires between records, not only after the
    input stops. Three files, each spanning more than the grace per key,
    one per trigger: the first file's rows must reach the sink in a
    batch before the one that reads the last file."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    start = ts("2021-11-04T00:00:00Z")
    spans = [("A", 2.0), ("B", 0.5), ("A", 0.0), ("B", 3.0), ("A", 3.5), ("B", 1.5)]
    files = [
        [
            (f"{k}-{i}", key, "u", float(i), start + int((4 * k + h) * HOUR_MS))
            for i, (key, h) in enumerate(spans)
        ]
        for k in range(3)
    ]
    for k, rows in enumerate(files):
        write_input(spark, rows, in_dir, len(spans) * (k + 1))
    run_once(spark, in_dir, out_dir, ckpt, "1 hour", key_cols, max_files=1)

    read = rows_by_batch(in_dir, ckpt / "sources" / "0")
    read_batch = dict(zip(read["order_id"], read["batch"]))
    got = rows_by_batch(out_dir, out_dir / "_spark_metadata")
    emit_batch = dict(zip(got["order_id"], got["batch"]))
    last_read = max(read_batch[r[0]] for r in files[-1])
    for order_id, *_ in files[0]:
        assert emit_batch[order_id] < last_read, (order_id, emit_batch, read_batch)

    # Every row once, each flush ascending by event time within a group.
    assert sorted(got["order_id"]) == sorted(r[0] for f in files for r in f)
    group = key_cols or []
    for _, g in got.groupby(["batch", *group]):
        assert g["time"].is_monotonic_increasing


def test_dedup_at_the_flush_boundary(spark, tmp_path):
    """First writer wins against the open epoch, also in the trigger
    that flushes it; once flushed, the buffer is empty again (the
    reference clears its store at punctuation), so a later copy of a
    flushed event time is buffered and emitted anew."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    start = ts("2021-11-04T00:00:00Z")

    def at(h):
        return start + int(h * HOUR_MS)

    files = [
        [("a0", at(0)), ("a1", at(2)), ("a2", at(3.5)), ("a3", at(1))],
        # Watermark 2.5 h: the open epoch's timer (1 h) has passed, so
        # this trigger flushes; `dup-open` copies a2, still buffered.
        [("dup-open", at(3.5)), ("b0", at(4)), ("b1", at(7.5)), ("b2", at(5))],
        # Watermark 6.5 h: `again` copies b1, flushed one trigger ago.
        [("c0", at(8)), ("again", at(7.5)), ("c1", at(10))],
    ]
    n = 0
    for rows in files:
        n += len(rows)
        write_input(spark, [(o, "one", "u", 1.0, t) for o, t in rows], in_dir, n)
    run_once(spark, in_dir, out_dir, ckpt, "1 hour", max_files=1)

    read = rows_by_batch(in_dir, ckpt / "sources" / "0")
    read_batch = dict(zip(read["order_id"], read["batch"]))
    got = rows_by_batch(out_dir, out_dir / "_spark_metadata")
    flushes = [list(g["order_id"]) for _, g in got.groupby("batch", sort=True)]
    assert flushes == [
        ["a0", "a3", "a1", "a2", "b0", "b2", "b1"],
        ["again", "c0", "c1"],
    ]
    # The first flush happened in the trigger that read the second file.
    assert got.loc[got["order_id"] == "b1", "batch"].item() == read_batch["b1"]


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Restarting from the checkpoint neither reprocesses consumed
    input nor re-emits flushed output — the exactly-once contract of
    checkpointing + an idempotent sink (SURVEY §2.2: the reference only
    configures idempotence, `enable.idempotence=true` in
    configuration/dev.properties:4-5; Structured Streaming's
    checkpoint gives the processing-side guarantee)."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    write_input(spark, GOLDEN_INPUT, in_dir, 12)
    run_once(spark, in_dir, out_dir, ckpt)
    assert list(read_output(out_dir)["order_id"]) == EXPECTED_ORDER_IDS

    # Restart with NO new input: the source offset log shows everything
    # consumed, the state store holds no unflushed rows — zero output.
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    assert len(got) == 12, "restart re-emitted flushed rows"

    # Restart with two new records (the second advances the watermark
    # past the first's flush timer): exactly those two appear once, in
    # event-time order, golden prefix untouched.
    fresh = [
        ("13", "one", "closer", 5.0, ts("2021-11-06T00:00:00Z")),
        ("14", "one", "closer", 6.0, ts("2021-11-07T00:00:00Z")),
    ]
    write_input(spark, fresh, in_dir, 14)
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    assert list(got["order_id"])[:12] == EXPECTED_ORDER_IDS
    assert list(got["order_id"])[12:] == ["13", "14"]


def test_keyed_reorder_orders_per_key(spark, tmp_path):
    """key_cols restores order WITHIN each key group (the reference
    orders per Kafka partition; keyed grouping is the parallel-scale
    path, SURVEY §7.4 risk 2). Two electronic_ids interleaved
    out-of-order must each come out chronologically."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    rows_a = [(f"a{i}", "dev-A", f"u{i}", 1.0 * i, t) for i, t in
              [(1, ts("2021-11-04T02:00:00Z")), (2, ts("2021-11-04T01:00:00Z")),
               (3, ts("2021-11-04T03:00:00Z"))]]
    rows_b = [(f"b{i}", "dev-B", f"u{i}", 2.0 * i, t) for i, t in
              [(1, ts("2021-11-04T01:30:00Z")), (2, ts("2021-11-04T00:30:00Z"))]]
    sentinel = [("zz", "dev-A", "s", 0.0, ts("2021-11-06T00:00:00Z")),
                ("zz2", "dev-B", "s", 0.0, ts("2021-11-06T00:00:00Z"))]
    write_input(spark, rows_a + rows_b + sentinel, in_dir, 7)

    src = spark.readStream.schema(STREAM_SCHEMA).parquet(str(in_dir))
    out = reorder_stream(
        src, ts_col="event_time", grace="10 hours", key_cols=["electronic_id"]
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = read_output(out_dir)
    by_key = {
        k: list(g.sort_index()["order_id"]) for k, g in got.groupby("electronic_id")
    }
    # flush-all drains the sentinels too, ordered last within their key
    assert by_key["dev-A"] == ["a2", "a1", "a3", "zz"]
    assert by_key["dev-B"] == ["b2", "b1", "zz2"]


def test_null_payload_columns_survive_flush(spark, tmp_path):
    """Nullable int / timestamp / double / string / date / decimal /
    binary / array / struct / map payload columns must round-trip the
    state buffer: a null in a long column must not crash the flush
    cast, a NaT in a secondary timestamp column must come back null,
    not a min-int64 sentinel, and the types pandas hands over as Python
    objects (date, Decimal, bytes, ndarray, dict) must come back
    equal."""
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
            T.StructField("qty", T.LongType()),
            T.StructField("seen_at", T.TimestampType()),
            T.StructField("score", T.DoubleType()),
            T.StructField("note", T.StringType()),
            T.StructField("day", T.DateType()),
            T.StructField("price", T.DecimalType(10, 2)),
            T.StructField("blob", T.BinaryType()),
            T.StructField("tags", T.ArrayType(T.LongType())),
            T.StructField(
                "dims",
                T.StructType(
                    [T.StructField("w", T.LongType()), T.StructField("unit", T.StringType())]
                ),
            ),
            T.StructField("attrs", T.MapType(T.StringType(), T.LongType())),
        ]
    )
    import datetime as _dt
    from decimal import Decimal

    base = ts("2021-11-04T00:00:00Z")
    day, price, blob, tags = _dt.date(2021, 11, 4), Decimal("12.34"), b"\x00\xff", [3, 1]
    dims, attrs = (4, "cm"), {"k": 2}
    rows = [
        ("b", base + 7_200_000, *[None] * 10),
        ("a", base + 3_600_000, 7, base, 1.5, "x", day, price, blob, tags, dims, attrs),
        ("zz", base + 86_400_000, 1, None, 0.0, "sentinel", day, price, blob, [], dims, {}),
    ]
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"

    def _to_dt(ms):
        return (
            None
            if ms is None
            else _dt.datetime.fromtimestamp(ms / 1000, _dt.timezone.utc).replace(
                tzinfo=None
            )
        )

    df = spark.createDataFrame(
        [(i, _to_dt(t), q, _to_dt(s), *rest) for i, t, q, s, *rest in rows],
        schema=schema,
    )
    df.coalesce(1).write.parquet(str(in_dir))

    src = spark.readStream.schema(schema).parquet(str(in_dir))
    out = reorder_stream(src, ts_col="event_time", grace="10 hours")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = read_output(out_dir)
    assert list(got["id"]) == ["a", "b", "zz"]
    b = got[got["id"] == "b"].iloc[0]
    assert pd.isna(b["qty"]) and pd.isna(b["seen_at"]) and pd.isna(b["score"])
    for c in ("note", "day", "price", "blob", "tags", "dims", "attrs"):
        assert b[c] is None or pd.isna(b[c]), c
    a = got[got["id"] == "a"].iloc[0]
    assert a["qty"] == 7 and a["score"] == 1.5 and a["note"] == "x"
    assert pd.Timestamp(a["seen_at"]).value // 1_000_000 == base
    assert a["day"] == day and a["price"] == price and a["blob"] == blob
    assert list(a["tags"]) == tags
    assert a["dims"] == {"w": 4, "unit": "cm"} and dict(a["attrs"]) == attrs


def test_empty_stream_terminates_cleanly(spark, tmp_path):
    """A source that delivers zero rows (schema-only parquet) must run
    one no-data micro-batch and terminate — no output rows, no timer
    crash, checkpoint committed (round-11 degenerate-input gate)."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    write_input(spark, [], in_dir, 0)
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    assert len(got) == 0
    # a second empty run resumes from the checkpoint without error
    run_once(spark, in_dir, out_dir, ckpt)
    assert len(read_output(out_dir)) == 0


def test_all_null_event_time_rows_are_dropped(spark, tmp_path):
    """Rows whose event time is NULL cannot be placed on the event-time
    axis: the watermark machinery never advances past them and the
    buffer sort has no key. The engine's contract is the SQL one —
    NULL event-time rows are excluded (dropped at the watermark, as
    Spark's eviction semantics imply), never a crash."""
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    # `time` is non-nullable in ELECTRONIC_ORDER; the NULL lives in the
    # extracted event_time column (the shape a bad payload produces
    # after timestamp extraction fails).
    null_row = ("14-null-ts", "one", "ghost", 1.0, GOLDEN_INPUT[0][4])
    rows = GOLDEN_INPUT + [null_row]
    df = spark.createDataFrame(rows, schema=ELECTRONIC_ORDER).withColumn(
        "event_time",
        F.when(
            F.col("order_id") != "14-null-ts",
            F.timestamp_millis(F.col("time")),
        ),
    )
    df.coalesce(1).write.mode("append").parquet(str(in_dir))
    run_once(spark, in_dir, out_dir, ckpt)
    got = read_output(out_dir)
    assert list(got["order_id"]) == EXPECTED_ORDER_IDS
    assert "14-null-ts" not in set(got["order_id"])


@pytest.mark.parametrize(
    "grace, ms",
    [
        ("10 hours", 10 * HOUR_MS),
        ("10 Hours", 10 * HOUR_MS),
        ("1 HOUR", HOUR_MS),
        ("10  hours", 10 * HOUR_MS),
        ("\t30 seconds \n", 30_000),
        ("1 day", 24 * HOUR_MS),
        ("250 milliseconds", 250),
    ],
)
def test_grace_spellings(grace, ms):
    """`reorder.grace` comes from a properties file: it is parsed the
    way `withWatermark` reads an interval — any case, any whitespace."""
    assert _grace_ms(grace) == ms


@pytest.mark.parametrize(
    "grace, match",
    [
        ("10 fortnights", "accepted units: millisecond, second, minute, hour, day"),
        ("1 month", "accepted units"),
        ("ten hours", "expected '<number> <unit>'"),
        ("10", "expected '<number> <unit>'"),
    ],
)
def test_grace_rejects_bad_intervals(grace, match):
    with pytest.raises(ValueError, match=match):
        _grace_ms(grace)


def test_reorder_stream_events_table_volume(spark, tmp_path):
    """The streaming re-sequencer over realistic volume: the sf0.01
    events table (10000 rows) written in a deterministically SHUFFLED
    order, flushed across multiple grace epochs. Checks the operator's
    three invariants at volume, not just on the 12-row fixture:
    first-arrival dedup per event timestamp, per-flush chronological
    order, and completeness (every distinct timestamp emitted once)."""
    from kafka_streams_reorder_timestamp_spark.sources import load_table
    from kafka_streams_reorder_timestamp_spark.streaming import reorder_stream

    ev = (
        load_table(spark, "/root/testdata/sf0.01", "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    # deterministic shuffle: order by a hash of the row id
    shuffled = ev.orderBy(F.md5(F.col("event_id").cast("string")))
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    shuffled.coalesce(1).write.parquet(str(in_dir))

    src = spark.readStream.schema(ev.schema).parquet(str(in_dir))
    out = reorder_stream(src, ts_col="ts", grace="10 hours")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = read_output(out_dir)
    src_pdf = ev.toPandas()
    n_distinct_ts = src_pdf["ts"].nunique()

    # completeness + dedup: one row per distinct event timestamp, except
    # timestamps still inside the final (unflushed) grace window
    assert got["ts"].is_unique
    assert len(got) >= n_distinct_ts * 0.9
    assert set(got["ts"]).issubset(set(src_pdf["ts"]))

    # per-flush chronological order: within each sink file (one flush
    # writes one task file) timestamps are non-decreasing
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    for part in sorted(_glob.glob(f"{out_dir}/part-*.parquet"),
                       key=_os.path.getmtime):
        pdf = _pq.read_table(part).to_pandas()
        if len(pdf):
            assert pdf["ts"].is_monotonic_increasing


def test_reorder_stream_volume_100k(spark, tmp_path, volume_sf_dir):
    """Throughput/volume pin at 100k rows (the sf0.1 events table,
    deterministically shuffled): the keyed re-sequencer must ingest,
    dedup, and flush 100k rows through real streaming state within a
    CI-safe budget, emitting every surviving row exactly once in
    per-key event-time order. The 1M-row variant of this topology is
    the SCALE.md throughput datapoint (round 5: ~34.6k rows/s global
    key, ~113k rows/s keyed by user_id on local[32]).

    The wall-clock budget assertion only runs when
    SPARK_GRAFT_PERF_ASSERT=1: on a loaded host (this sandbox records
    multi-second steal-time spikes) a timing failure is noise, not a
    correctness signal — the functional assertions always run."""
    import time

    from kafka_streams_reorder_timestamp_spark.sources import load_table
    from kafka_streams_reorder_timestamp_spark.streaming import reorder_stream

    ev = (
        load_table(spark, volume_sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    shuffled = ev.orderBy(F.md5(F.col("event_id").cast("string")))
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    shuffled.coalesce(4).write.parquet(str(in_dir))

    src = spark.readStream.schema(ev.schema).parquet(str(in_dir))
    out = reorder_stream(src, ts_col="ts", grace="10 hours", key_cols=["user_id"])
    t0 = time.perf_counter()
    q = (
        out.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    dt = time.perf_counter() - t0

    got = read_output(out_dir)
    src_pdf = ev.select("user_id", "ts").toPandas()
    n_distinct = src_pdf.drop_duplicates().shape[0]
    # completeness + per-key dedup: one row per distinct (user, ts)
    assert len(got) == len(got.drop_duplicates(["user_id", "ts"]))
    assert len(got) >= n_distinct * 0.9  # final grace window may hold back
    # per-key event-time order within each flush file
    import glob as _glob

    import pyarrow.parquet as _pq

    for part in sorted(_glob.glob(f"{out_dir}/part-*.parquet")):
        pdf = _pq.read_table(part).to_pandas()
        if len(pdf):
            assert pdf.groupby("user_id")["ts"].apply(
                lambda s: s.is_monotonic_increasing
            ).all()
    # volume sanity: 100k rows must stream through well under the CI
    # budget (measured ~3-9 s on local[32]; 60 s leaves 6x headroom).
    # Env-gated: timing on a loaded shared host is not a correctness
    # signal, so it must not flake the suite by default.
    if os.environ.get("SPARK_GRAFT_PERF_ASSERT") == "1":
        assert dt < 60, f"100k-row reorder took {dt:.1f}s"


def test_reorder_keyed_throughput_floor_1m(
    spark, tmp_path, volume_sf_dir, record_property
):
    """Streaming-throughput regression gate, ON BY DEFAULT since round
    7: the keyed re-sequencer must sustain >= 10k rows/s over 1M rows
    (measured ~40-113k rows/s keyed on local[32] across rounds 5-6,
    including loaded-host runs — the 10k default floor leaves ~4-10x
    headroom, so only a genuine state-codec or per-batch regression
    trips it, not machine variance). The strict 20k floor from round 5
    still applies when SPARK_GRAFT_PERF_ASSERT=1. Input = sf0.1 events
    replicated 10x with disjoint event_ids and second-shifted
    timestamps (no dedup collapse), deterministically shuffled. The
    result is recorded in SCALE.md.

    Flake guards (the headroom above is measured on a 32-core host
    class): hosts with few cores auto-skip the FLOOR (the completeness
    checks still run), and SPARK_GRAFT_PERF_SKIP=1 skips it
    explicitly on a known-loaded CI host."""
    import time

    from kafka_streams_reorder_timestamp_spark.sources import load_table
    from kafka_streams_reorder_timestamp_spark.streaming import reorder_stream

    ev = load_table(spark, volume_sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    rep = spark.range(10).select(F.col("id").alias("_rep"))
    big = ev.crossJoin(rep).select(
        (F.col("event_id") + F.col("_rep") * 10_000_000).alias("event_id"),
        (F.col("ts") + F.make_interval(secs=F.col("_rep"))).alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    n_in = big.count()
    assert n_in == 1_000_000
    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ck"
    big.orderBy(F.md5(F.col("event_id").cast("string"))).coalesce(8).write.parquet(
        str(in_dir)
    )

    src = spark.readStream.schema(big.schema).parquet(str(in_dir))
    out = reorder_stream(src, ts_col="ts", grace="10 hours", key_cols=["user_id"])
    t0 = time.perf_counter()
    q = (
        out.writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    dt = time.perf_counter() - t0
    rate = n_in / dt
    record_property("rows_per_s", rate)
    print(f"keyed reorder {rate:,.0f} rows/s ({dt:.1f}s)")
    # completeness sanity so a fast-but-wrong run can't pass
    got = read_output(out_dir)
    assert len(got) >= n_in * 0.9
    if os.environ.get("SPARK_GRAFT_PERF_SKIP") == "1":
        pytest.skip("SPARK_GRAFT_PERF_SKIP=1: throughput floor waived")
    if (os.cpu_count() or 0) < 16 and os.environ.get(
        "SPARK_GRAFT_PERF_ASSERT"
    ) != "1":
        pytest.skip(
            f"only {os.cpu_count()} cores: the 10k floor's headroom is "
            "measured on a 32-core host class (completeness already "
            "checked above); set SPARK_GRAFT_PERF_ASSERT=1 to force"
        )
    floor = 20_000 if os.environ.get("SPARK_GRAFT_PERF_ASSERT") == "1" else 10_000
    assert rate >= floor, (
        f"keyed reorder {rate:,.0f} rows/s < {floor // 1000}k floor ({dt:.1f}s)"
    )
