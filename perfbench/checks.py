"""Output checks and the emit-lag computation.

The stream check is a pandas model of the re-sequencer's documented
semantics (``streaming/reorder.py``), replayed trigger by trigger
over what the engine reports it did:

* a row is dropped as late when its event time is at or before the
  watermark the previous trigger reported (``offsets/<n>`` in the
  checkpoint; Spark filters input with the late-event watermark, the
  one the trigger before ran with);
* per group, the first arrival of an event time wins while it is
  buffered; later copies are dropped;
* a flush emits the group's open epoch, ascending by event time, in
  one file, in any trigger whose reported watermark has passed the
  epoch's timer (first buffered event time + grace); the model does
  not require a flush to happen at any particular trigger, so late
  flushing shows as emit lag, not as a wrong answer;
* a flush in a trigger that also read rows of the group holds the
  epoch buffered before it plus those rows in arrival order, up to the
  first fresh one it leaves out, which opens the next epoch with the
  rest (Kafka Streams punctuates between records, so both "ingest,
  then flush" and "flush, then ingest" are allowed);
* after the end-of-input sentinel every buffer has been flushed, but
  for an epoch that holds the sentinel alone.

Input files map to triggers through the checkpoint's source log, sink
files through the sink's ``_spark_metadata`` log. The batch check
compares a query result with its DuckDB oracle under ``parity.py``'s
canonical form.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
from dataclasses import dataclass, field

import numpy as np
import pandas as pd


def tail(values) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile that has at
    least ten samples beyond it. Below 21 samples that percentile would
    not lie above the median, so the maximum stands in."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), float("nan"), 0
    if n < 21:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def median(values) -> float:
    return statistics.median(values) if len(values) else float("nan")


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# --------------------------------------------------------------- logs


def _log_entries(path: str) -> list[dict]:
    with open(path) as f:
        lines = f.read().splitlines()
    return [json.loads(x) for x in lines[1:] if x.strip()]


def _log_ids(d: str) -> list[tuple[int, str]]:
    out = []
    for p in glob.glob(os.path.join(d, "*")):
        base = os.path.basename(p)
        stem = base.split(".")[0]
        if stem.isdigit() and (base == stem or base.endswith(".compact")):
            out.append((int(stem), p))
    return sorted(out)


def source_batches(ckpt: str) -> dict[str, int]:
    """Input file basename -> id of the trigger that read it."""
    out = {}
    for _, p in _log_ids(os.path.join(ckpt, "sources", "0")):
        for e in _log_entries(p):
            out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def batch_watermarks(ckpt: str) -> dict[int, int]:
    """Trigger id -> watermark (epoch ms) the trigger ran with."""
    out = {}
    for b, p in _log_ids(os.path.join(ckpt, "offsets")):
        with open(p) as f:
            meta = json.loads(f.read().splitlines()[1])
        out[b] = int(meta.get("batchWatermarkMs", 0))
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Trigger id -> wall time its commit-log entry was written."""
    return {b: os.stat(p).st_mtime for b, p in _log_ids(os.path.join(ckpt, "commits"))}


def sink_batches(sink: str) -> dict[int, tuple[float, list[str]]]:
    """Trigger id -> (sink commit wall time, files it added). A compact
    file lists every file so far; its trigger's own files are the ones
    no earlier entry listed."""
    out: dict[int, tuple[float, list[str]]] = {}
    seen: set[str] = set()
    for b, p in _log_ids(os.path.join(sink, "_spark_metadata")):
        files = [e["path"] for e in _log_entries(p) if e.get("action", "add") == "add"]
        new = [f for f in files if f not in seen]
        seen.update(new)
        out[b] = (os.stat(p).st_mtime, [f.removeprefix("file://") for f in new])
    return out


# ------------------------------------------------------- stream model


@dataclass
class StreamCheck:
    rows: pd.DataFrame  # input rows + late / dedup / emit_batch / fire_at_ms
    errors: list[str] = field(default_factory=list)
    flushes: int = 0
    emitted: int = 0
    late: int = 0
    deduped: int = 0


def check_stream(rows: pd.DataFrame, wm_used: dict[int, int],
                 out_files: list[tuple[int, pd.DataFrame]], grace_ms: int,
                 payload: list[str] = (), sentinel=None) -> StreamCheck:
    """Replay the documented semantics over the engine's own trigger
    boundaries and check every flush the sink received.

    rows: input rows in arrival order with columns ``key``, ``ts_us``
        (event time, epoch µs), ``rid`` (unique row id), ``batch``
        (trigger that read the row) and the ``payload`` columns.
    wm_used: trigger id -> watermark (ms) the trigger reported.
    out_files: (trigger id, sink file rows in file order) with columns
        ``key``, ``ts_us``, ``rid`` and the ``payload`` columns.
    sentinel: row id of the end-of-input sentinel, which may stay
        buffered in an epoch of its own.
    """
    rows = rows.reset_index(drop=True)
    n = len(rows)
    key_v, ts_v, rid_v = rows["key"].values, rows["ts_us"].values, rows["rid"].values
    late = np.zeros(n, bool)
    dedup = np.zeros(n, bool)
    emit_batch = np.full(n, -1, np.int64)
    fire_col = np.full(n, -1, np.int64)
    errors: list[str] = []
    by_rid = pd.Series(np.arange(n), index=rid_v)
    if not by_rid.index.is_unique:
        raise ValueError("input row ids are not unique")

    buffers: dict = {}  # key -> row positions of the open epoch
    buf_ts: dict = {}  # key -> event times of the open epoch
    fire_at: dict = {}  # key -> timer of the open epoch (ms)

    def ingest(g, pos) -> None:
        buf = buffers.setdefault(g, [])
        seen = buf_ts.setdefault(g, set())
        fresh = []
        for p in pos:
            t = int(ts_v[p])
            if t in seen:
                dedup[p] = True
            else:
                seen.add(t)
                fresh.append(p)
        if fresh and not buf:
            fire_at[g] = int(ts_v[fresh].min()) // 1000 + grace_ms
        buf.extend(fresh)
        if not buf:
            del buffers[g], buf_ts[g]

    flush_by_batch: dict[int, list[pd.DataFrame]] = {}
    for b, f in out_files:
        if len(f):
            flush_by_batch.setdefault(b, []).append(f)
    rows_by_batch = {b: g.index.values for b, g in rows.groupby("batch", sort=True)}
    flushes = 0
    emitted_rids: list = []
    wm = 0
    for b in sorted(set(wm_used) | set(rows_by_batch) | set(flush_by_batch)):
        # Input is filtered with the previous trigger's watermark, timers
        # fire against the trigger's own (Spark's late-event and eviction
        # watermarks).
        wm_late = wm
        wm = wm_used.get(b)
        if wm is None:
            errors.append(f"trigger {b}: no watermark in the offset log")
            wm = wm_late
            continue
        idx = rows_by_batch.get(b, np.array([], np.int64))
        is_late = ts_v[idx] <= wm_late * 1000
        late[idx[is_late]] = True
        live = idx[~is_late]

        flushed: dict = {}
        for f in flush_by_batch.get(b, []):
            for g, part in f.groupby("key", sort=False):
                flushes += 1
                if g in flushed:
                    errors.append(f"trigger {b} key {g!r}: flush split over files")
                    continue
                flushed[g] = part

        for g in dict.fromkeys(key_v[live].tolist()) | dict.fromkeys(flushed):
            pos = live[key_v[live] == g]
            part = flushed.get(g)
            if part is None:
                ingest(g, pos)
                continue
            # The flush takes the open epoch and this trigger's rows of
            # the group, in arrival order, up to the first new row it
            # leaves out; that row and the ones after it open the next
            # epoch.
            where = f"trigger {b} key {g!r}"
            got = part["rid"].tolist()
            taken = set(got)
            epoch = buffers.pop(g, [])
            seen = buf_ts.pop(g, set())
            timer = fire_at.pop(g, None)
            split = len(pos)
            for j, p in enumerate(pos):
                t = int(ts_v[p])
                if t in seen:
                    dedup[p] = True
                elif rid_v[p] in taken:
                    seen.add(t)
                    epoch.append(p)
                else:
                    split = j
                    break
            if not epoch:
                errors.append(f"{where}: flush with nothing buffered")
                continue
            if timer is None:
                timer = int(ts_v[epoch].min()) // 1000 + grace_ms
            if not timer < wm:
                errors.append(f"{where}: flushed before the watermark {wm} "
                              f"passed its timer {timer}")
            if (np.diff(part["ts_us"].to_numpy()) <= 0).any():
                errors.append(f"{where}: flush not ascending by event time")
            if sorted(got) != sorted(rid_v[epoch].tolist()):
                errors.append(f"{where}: flush is not the buffer "
                              f"({len(got)} rows out, {len(epoch)} buffered)")
            emitted_rids.extend(got)
            emit_batch[epoch] = b
            fire_col[epoch] = timer
            ingest(g, pos[split:])

    for g, buf in buffers.items():
        if rid_v[buf].tolist() != [sentinel]:
            errors.append(f"key {g!r}: {len(buf)} rows never flushed after the sentinel")
        fire_col[buf] = fire_at[g]

    # Values are passed through untouched.
    if emitted_rids and payload:
        out_all = pd.concat([f for _, f in out_files if len(f)], ignore_index=True)
        src = rows.iloc[by_rid.loc[out_all["rid"]].values][list(payload)].reset_index(drop=True)
        if not src.equals(out_all[list(payload)].reset_index(drop=True)):
            errors.append("emitted values differ from the input rows")
    if len(emitted_rids) != len(set(emitted_rids)):
        errors.append("a row was emitted twice")

    rows = rows.assign(late=late, dedup=dedup, emit_batch=emit_batch, fire_at_ms=fire_col)
    return StreamCheck(rows=rows, errors=errors, flushes=flushes,
                       emitted=len(emitted_rids), late=int(late.sum()),
                       deduped=int(dedup.sum()))


def emit_lags(rows: pd.DataFrame, wm_after: dict[int, int], trigger_end: dict[int, float],
              sink_commit: dict[int, float], stop_time: float) -> np.ndarray:
    """Per buffered row: seconds from when its flush fell due to when the
    sink committed it.

    A row's flush falls due at the end of the first trigger after which
    the watermark passed its epoch's timer (``fire_at_ms``), and no
    earlier than the start of the trigger that read it (taken as the end
    of the trigger before). ``wm_after[b]`` is the watermark the engine
    holds once trigger ``b`` has ended; triggers are numbered without
    gaps. Rows that fell due but were never emitted count until
    ``stop_time``; rows that never fell due give no sample.
    """
    bids = np.array(sorted(wm_after), dtype=np.int64)
    wms = np.maximum.accumulate(np.array([wm_after[b] for b in bids], dtype=np.int64))
    ends = np.array([trigger_end[b] for b in bids])
    keep = ~rows["late"].values & ~rows["dedup"].values & (rows["fire_at_ms"].values >= 0)
    r = rows[keep]
    before = np.searchsorted(bids, r["batch"].values) - 1
    passed = np.searchsorted(wms, r["fire_at_ms"].values, side="right")
    due_i = np.maximum(before, passed)
    is_due = due_i < len(bids)
    due = np.where(is_due, ends[np.minimum(due_i, len(bids) - 1)], np.nan)
    emitted = r["emit_batch"].values >= 0
    done = np.array([sink_commit.get(b, np.nan) for b in r["emit_batch"].values])
    done = np.where(emitted, done, stop_time)
    lag = done - due
    return lag[is_due]


def watermarks_after(wm_used: dict[int, int], rows: pd.DataFrame, delay_ms: int) -> dict[int, int]:
    """Watermark held after each trigger: the next trigger's reported
    one, and for the last trigger the engine's rule (max event time
    seen so far minus the delay, never decreasing)."""
    bids = sorted(wm_used)
    out = {b: wm_used[nxt] for b, nxt in zip(bids, bids[1:])}
    if bids:
        last = bids[-1]
        seen = rows.loc[rows["batch"] <= last, "ts_us"]
        top = int(seen.max()) // 1000 - delay_ms if len(seen) else 0
        out[last] = max(wm_used[last], top)
    return out


# ---------------------------------------------------------- batch check


def check_query(sdf: pd.DataFrame, odf: pd.DataFrame) -> str | None:
    """None when the engine result equals the oracle's under parity.py's
    canonical form, else what differs."""
    from parity import _canon

    if len(sdf) != len(odf):
        return f"rows {len(sdf)} != oracle {len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"columns {sorted(sdf.columns)} != oracle {sorted(odf.columns)}"
    if not _canon(sdf).equals(_canon(odf)):
        return "values differ from the oracle"
    return None
