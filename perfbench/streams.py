"""The stream workload.

``reorder_app`` runs the shipped topology, ``app.build_topology`` with
``source.format=parquet`` and the default trigger, while a separate
generator process writes one file every ``APP_INTERVAL_S`` on a fixed
schedule (open loop). When the generator has written ``--seconds``
worth of files the benchmark adds the sentinel and waits for the final
flush.

The sentinel is one row far ahead in event time: it pushes the
watermark past every timer, so every buffered row must be out once
the trigger after it ends. Only the sentinel itself may stay buffered,
when a flush in its trigger left it to open an epoch of its own.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs
from checks import (
    batch_watermarks, check_stream, commit_times, emit_lags, geomean, median,
    sink_batches, source_batches, tail, watermarks_after,
)

APP_ROWS_PER_FILE = 250
APP_INTERVAL_S = 0.5
# Event time between orders: 72 s, so 500 orders a second carry 10 h of
# event time; the grace passes every wall second of feed and timers
# fall due early in the run.
APP_ROW_STEP_S = 72.0
FEED_LEAD_S = 1.5
DRAIN_TIMEOUT_S = 90.0
SENTINEL_AHEAD = pd.Timedelta(days=30)


def _app_query(run, src: str, sink: str, ckpt: str):
    from kafka_streams_reorder_timestamp_spark.app import build_topology
    from kafka_streams_reorder_timestamp_spark.config import EngineConfig

    cfg = EngineConfig(checkpoint_dir=ckpt)
    props = {"source.format": "parquet", "source.path": src, "sink.path": sink}
    return build_topology(run.spark, cfg, props)


def _wait(query, cond, timeout_s: float, poll_s: float = 0.05):
    """Poll ``query.recentProgress`` until ``cond(progress)``; raises if
    the query dies or the time runs out."""
    deadline = time.time() + timeout_s
    while True:
        if query.exception() is not None:
            raise RuntimeError(f"query failed: {query.exception()}")
        prog = query.recentProgress
        if cond(prog):
            return prog
        if time.time() > deadline:
            raise TimeoutError("stream did not reach the expected state")
        time.sleep(poll_s)


def _warm(files: list[pd.DataFrame]):
    """Set-up warm-up: start the topology on a small input and wait for
    its first trigger."""

    def warm(run) -> None:
        d = run.path("warm")
        os.makedirs(os.path.join(d, "in"))
        for j, f in enumerate(files):
            inputs.write_atomic(f, os.path.join(d, "in", f"w-{j:03d}.parquet"),
                                inputs.order_schema())
        with run.tracer.span("warm query", "reorder"):
            q = _app_query(run, os.path.join(d, "in"), os.path.join(d, "out"),
                           os.path.join(d, "ck"))
            try:
                _wait(q, _executed, DRAIN_TIMEOUT_S)
            finally:
                q.stop()

    return warm


def _sentinel_app(files: list[pd.DataFrame]) -> pd.DataFrame:
    last = max(f["event_time"].max() for f in files) + SENTINEL_AHEAD
    return pd.DataFrame({
        "order_id": ["sentinel"], "electronic_id": ["none"], "user_id": ["none"],
        "price": [0.0], "time": [last.value // 1_000_000],
        "event_time": [last],
    }).astype({"event_time": "datetime64[us]"})


def _executed(prog) -> list[dict]:
    """Progress reports of triggers that ran a batch (an idle query also
    reports, without ``addBatch``)."""
    return [p for p in prog if "addBatch" in p["durationMs"]]


def _drained(n_rows: int):
    """Every row read, and a later trigger has run: the watermark the
    sentinel pushed has fired every timer."""

    def cond(prog) -> bool:
        total = 0
        for p in _executed(prog):
            total += p["numInputRows"]
            if total >= n_rows and p["numInputRows"] == 0:
                return True
        return False

    return cond


def run_app(run) -> dict:
    t0 = time.time()
    n_files = max(1, int(round(run.seconds / APP_INTERVAL_S)))
    stream = inputs.order_stream(run.seed, APP_ROWS_PER_FILE, n_files, APP_ROW_STEP_S)
    files = inputs.split_files(stream)
    warm_files = inputs.split_files(inputs.order_stream(run.seed + 1, 32, 1, APP_ROW_STEP_S))
    run.gen_s = time.time() - t0
    run.setup(_warm(warm_files))

    src, sink, ckpt = run.path("in"), run.path("out"), run.path("ck")
    os.makedirs(src)
    ledger = run.path("feed-ledger.json")
    # The generator needs about a second to import and build its files;
    # its first file is due after that, once the query is running.
    t_start = time.time() + FEED_LEAD_S
    feeder = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs.py"),
        "feed", "--seed", str(run.seed), "--dir", src, "--ledger", ledger,
        "--files", str(n_files), "--rows-per-file", str(APP_ROWS_PER_FILE),
        "--interval", str(APP_INTERVAL_S), "--row-step", str(APP_ROW_STEP_S),
        "--start-at", str(t_start),
    ])
    try:
        t0 = time.time()
        with run.tracer.span("build_topology", "app"):
            query = _app_query(run, src, sink, ckpt)
        run.layers["app.start_s"] = time.time() - t0
        try:
            _wait(query, lambda p: feeder.poll() is not None,
                  run.seconds + FEED_LEAD_S + DRAIN_TIMEOUT_S)
            if feeder.returncode != 0:
                raise RuntimeError(f"feed generator exited with {feeder.returncode}")
            backlog = sum(len(f) for f in files) - sum(
                p["numInputRows"] for p in _executed(query.recentProgress))
            sentinel = _sentinel_app(files)
            inputs.write_atomic(sentinel, os.path.join(src, "feed-sentinel.parquet"),
                                inputs.order_schema())
            t_input_end = time.time()
            n_rows = sum(len(f) for f in files) + 1
            prog = _wait(query, _drained(n_rows), DRAIN_TIMEOUT_S)
        finally:
            query.stop()
    finally:
        if feeder.poll() is None:
            feeder.kill()
        feeder.wait(timeout=30)
    t_stop = time.time()

    with open(ledger) as f:
        log = json.load(f)
    run.layers["app.backlog_rows"] = backlog
    run.layers["app.gen_late_ms"] = 1000 * max(e["written"] - e["due"] for e in log)
    written = [f"feed-{i:05d}.parquet" for i in range(n_files)] + ["feed-sentinel.parquet"]
    used = pd.concat(files + [sentinel], ignore_index=True)
    used["key"] = 0
    return _finish(
        run, used, written, src, sink, ckpt, prog, t_start, t_input_end, t_stop,
        planted=stream["kind"].value_counts(),
    )


def _finish(run, used, written, src, sink, ckpt, prog, t_start, t_input_end, t_stop,
            planted) -> dict:
    """Check the query's output against the model, then compute the
    end-to-end metrics and the per-layer numbers."""
    ts, rid = "event_time", "order_id"
    prog = _executed(prog)
    file_batch = source_batches(ckpt)
    sizes = [pq.ParquetFile(os.path.join(src, w)).metadata.num_rows for w in written]
    rows = used.copy()
    rows["batch"] = np.repeat([file_batch.get(w, -1) for w in written], sizes)
    rows["ts_us"] = rows[ts].values.astype("datetime64[us]").astype(np.int64)
    rows["rid"] = rows[rid]
    payload = [c for c in used.columns if c not in (ts, "key")] + ["ts_us"]

    wm_used = batch_watermarks(ckpt)
    sinks = sink_batches(sink)
    out_files = []
    for b, (_, paths) in sinks.items():
        for p in paths:
            f = pq.read_table(p).to_pandas()
            f["ts_us"] = f[ts].values.astype("datetime64[us]").astype(np.int64)
            f["rid"] = f[rid]
            f["key"] = 0
            out_files.append((b, f))
    res = check_stream(rows, wm_used, out_files, inputs.GRACE_MS, payload=payload,
                       sentinel="sentinel")

    errors = list(res.errors)
    dropped = sum(_op(p).get("numRowsDroppedByWatermark", 0) for p in prog)
    if dropped != res.late:
        errors.append(f"engine dropped {dropped} late rows, model {res.late}")
    if (rows["batch"] < 0).any():
        errors.append("input files never read")
    # A duplicate rides in its original's file and no ordinary row is
    # late, so every planted duplicate is dropped. Whether a straggler
    # is late depends on how files fall into triggers: the engine's own
    # count is checked against the model above instead.
    if res.deduped != planted.get("dup", 0):
        errors.append(f"deduped {res.deduped} != planted {planted.get('dup', 0)}")

    ends = commit_times(ckpt)
    commits = {b: t for b, (t, _) in sinks.items()}
    wm_after = {b: w for b, w in watermarks_after(wm_used, rows, inputs.GRACE_MS).items()
                if b in ends}
    lags = emit_lags(res.rows, wm_after, ends, commits, t_stop).tolist()
    emitted_batches = res.rows.loc[res.rows["emit_batch"] >= 0, "emit_batch"]
    before_end = sum(commits[b] < t_input_end for b in emitted_batches)
    data = [p for p in prog if p["numInputRows"] > 1]
    steps = [p["durationMs"]["triggerExecution"] for p in data]
    for p in prog:
        run.tracer.add_trigger(p)

    def med(f):
        return median([f(p) for p in data]) if data else 0.0

    def dur(*phases):
        return lambda p: sum(p["durationMs"].get(ph, 0) for ph in phases)

    def custom(name):
        return lambda p: _op(p).get("customMetrics", {}).get(name, 0)

    run.layers.update({
        "sources.offset_ms": med(dur("latestOffset", "getBatch")),
        "reorder.add_batch_ms": med(dur("addBatch")),
        "reorder.planning_ms": med(dur("queryPlanning")),
        "reorder.wal_ms": med(dur("walCommit", "commitOffsets")),
        "reorder.state_commit_ms": med(lambda p: _op(p).get("commitTimeMs", 0)),
        "reorder.rocksdb_sync_ms": med(custom("rocksdbCommitFileSyncLatencyMs")),
        "reorder.rocksdb_snapshot_ms": med(custom("rocksdbCommitCheckpointLatency")),
        "reorder.state_groups": med(lambda p: _op(p).get("numRowsUpdated", 0)),
        "reorder.state_sst_bytes_peak": max(custom("rocksdbSstFileSize")(p) for p in prog),
        "reorder.state_dir_bytes": sum(os.path.getsize(f) for f in glob.glob(
            os.path.join(ckpt, "state", "**"), recursive=True) if os.path.isfile(f)),
        "reorder.rows_dropped_late": dropped,
        "reorder.rows_deduped": res.deduped,
        "reorder.flushes": res.flushes,
        "reorder.emitted_before_end_share": before_end / max(1, res.emitted),
    })
    run.extra.update(
        errors=errors[:20], n_errors=len(errors), emitted=res.emitted, triggers=len(prog),
        data_triggers=len(data), late=res.late,
        planted={k: int(v) for k, v in planted.items()},
        step_tail=tail(steps)[1:], lag_tail=tail(lags)[1:],
        run_s=t_stop - t_start, input_end_s=t_input_end - t_start,
    )
    e2e = {
        "setup_s": run.setup_s,
        "rows_per_s": (len(used) - 1) / (max(commits.values()) - t_start),
        "step_p50_ms": median(steps),
        "step_tail_ms": tail(steps)[0],
        "step_geomean_ms": geomean(steps),
        "emit_lag_p50_s": median(lags),
        "emit_lag_tail_s": tail(lags)[0],
    }
    return {"e2e": e2e, "attempted": 1, "failed": int(bool(errors))}


def _op(p: dict) -> dict:
    """The state operator's progress (the topology has exactly one)."""
    return (p.get("stateOperators") or [{}])[0]
