"""The benchmark's own tests: input determinism, the stream checker on
the reference's golden fixture, and emit lag on a hand-built trace.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
from checks import check_stream, emit_lags, tail, watermarks_after  # noqa: E402

H = 3_600_000  # one hour in ms
GRACE = 10 * H
B = 1_700_000_000_000  # event times start here (epoch ms)


# ------------------------------------------------------------ generator


def test_order_stream_is_a_function_of_the_seed():
    a = inputs.order_stream(7, rows_per_file=200, n_files=20, row_step_s=72.0)
    b = inputs.order_stream(7, rows_per_file=200, n_files=20, row_step_s=72.0)
    c = inputs.order_stream(8, rows_per_file=200, n_files=20, row_step_s=72.0)
    pd.testing.assert_frame_equal(a, b)
    assert not a["event_time"].equals(c["event_time"])


def test_planted_shares_and_placement():
    s = inputs.order_stream(3, rows_per_file=250, n_files=160, row_step_s=72.0)
    kinds = s["kind"].value_counts()
    assert 0.006 < kinds["dup"] / len(s) < 0.014
    assert 0.003 < kinds["straggler"] / len(s) < 0.007
    # A duplicate repeats an earlier event time of its own file.
    for _, d in s[s["kind"] == "dup"].head(50).iterrows():
        same = s[(s["_file"] == d["_file"]) & (s["event_time"] == d["event_time"])]
        assert list(same["kind"]) == ["row", "dup"]
    # No straggler in the first files, where the watermark is still 0.
    assert not (s.loc[s["_file"] < 2, "kind"] == "straggler").any()
    # Ordinary rows arrive out of event-time order.
    rows = s[s["kind"] == "row"]
    assert (np.diff(rows["event_time"].values.astype(np.int64)) < 0).mean() > 0.1


def test_tables_are_a_function_of_the_seed():
    a = inputs.make_tables(11, sf=0.001)
    b = inputs.make_tables(11, sf=0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["orders"].equals(inputs.make_tables(12, sf=0.001)["orders"])


def test_feed_writes_the_same_files_for_the_same_seed(tmp_path):
    for run in ("a", "b"):
        d = tmp_path / run
        d.mkdir()
        inputs.feed(5, str(d), str(tmp_path / f"{run}.json"), n_files=3,
                    rows_per_file=50, interval_s=0.0, row_step_s=72.0, start_at=0.0)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == ["feed-00000.parquet", "feed-00001.parquet", "feed-00002.parquet"]
    for n in names:
        ta = pq.read_table(tmp_path / "a" / n)
        assert ta.equals(pq.read_table(tmp_path / "b" / n))
        assert ta.num_rows >= 50


# --------------------------------------------------------- stream check


def _golden():
    from tests.test_reorder_batch import EXPECTED_ORDER_IDS, GOLDEN_INPUT

    rows = pd.DataFrame(GOLDEN_INPUT, columns=["order_id", "electronic_id", "user_id",
                                               "price", "time"])
    rows["key"] = 0
    rows["ts_us"] = rows["time"] * 1000
    rows["rid"] = rows["order_id"]
    rows["batch"] = 0
    # Trigger 1 runs with the watermark the 12 rows pushed: the newest
    # event time minus the grace.
    wm = {0: 0, 1: int(rows["time"].max()) - GRACE}
    expected = rows.set_index("order_id").loc[EXPECTED_ORDER_IDS].reset_index()
    return rows, wm, expected


def _check(rows, wm, out):
    return check_stream(rows, wm, [(1, out)], GRACE,
                        payload=["order_id", "price", "ts_us"])


def test_checker_accepts_the_golden_fixture():
    rows, wm, expected = _golden()
    res = _check(rows, wm, expected)
    assert res.errors == []
    assert (res.flushes, res.emitted, res.late, res.deduped) == (1, 12, 0, 0)


def test_checker_rejects_a_reordered_flush():
    rows, wm, expected = _golden()
    swapped = expected.iloc[[1, 0] + list(range(2, 12))].reset_index(drop=True)
    assert any("ascending" in e for e in _check(rows, wm, swapped).errors)


def test_checker_rejects_a_duplicated_row():
    rows, wm, expected = _golden()
    doubled = pd.concat([expected, expected.iloc[[5]]]).sort_values(
        "ts_us", kind="stable").reset_index(drop=True)
    assert _check(rows, wm, doubled).errors


def test_checker_rejects_a_missing_row():
    rows, wm, expected = _golden()
    assert _check(rows, wm, expected.drop(index=3).reset_index(drop=True)).errors


# ------------------------------------------------------------- emit lag


def _trace():
    """Two keys over six triggers: key ``k``'s epoch falls due at
    trigger 1 and flushes at trigger 3, one trigger after ``k@9h``
    joined it; key ``x`` flushes at trigger 5."""
    spec = [  # (trigger, key, event time in hours)
        (0, "k", 0), (0, "k", 1), (1, "x", 21), (2, "k", 9), (2, "x", 30),
    ]
    rows = pd.DataFrame(spec, columns=["batch", "key", "h"])
    rows["ts_us"] = (B + rows["h"] * H) * 1000
    rows["rid"] = range(len(rows))
    wm_used = {0: 0, 1: B - 9 * H, 2: B + 11 * H, 3: B + 20 * H, 4: B + 20 * H,
               5: B + 90 * H}
    return rows, wm_used, [(3, _out(rows, [0, 1, 3])), (5, _out(rows, [2, 4]))]


def _out(rows, idx):
    return rows.iloc[idx][["key", "ts_us", "rid"]].reset_index(drop=True)


def _lags(res, rows, wm_used):
    ends = {b: 100.0 + 10 * b for b in wm_used}
    commits = {b: t - 1 for b, t in ends.items()}
    return sorted(emit_lags(res.rows, watermarks_after(wm_used, rows, GRACE), ends,
                            commits, stop_time=1000.0).tolist())


def test_emit_lag_on_a_two_flush_trace():
    rows, wm_used, flushes = _trace()
    res = check_stream(rows, wm_used, flushes, GRACE)
    assert res.errors == []
    assert res.flushes == 2
    assert watermarks_after(wm_used, rows, GRACE) == {
        0: B - 9 * H, 1: B + 11 * H, 2: B + 20 * H, 3: B + 20 * H, 4: B + 90 * H,
        5: B + 90 * H}
    # Trigger b ends at 100 + 10 b; its sink commit is a second earlier.
    # k@0h and k@1h fell due when trigger 1 ended (watermark 11 h passed
    # their 10 h timer) and were committed by trigger 3: 129 - 110.
    # k@9h joined the overdue epoch when trigger 2 started (trigger 1's
    # end): 129 - 110. x's epoch (timer 31 h) fell due at trigger 4 and
    # left at 5: 149 - 140.
    assert _lags(res, rows, wm_used) == [9.0, 9.0, 19.0, 19.0, 19.0]


def test_checker_accepts_a_flush_in_a_trigger_with_input():
    rows, wm_used, _ = _trace()
    x = (5, _out(rows, [2, 4]))
    # Trigger 2 reads k@9h with the watermark (11 h) past k's timer
    # (10 h). The flush may take the new row (ingest, then flush)...
    res = check_stream(rows, wm_used, [(2, _out(rows, [0, 1, 3])), x], GRACE)
    assert res.errors == []
    assert _lags(res, rows, wm_used) == [9.0, 9.0, 9.0, 9.0, 9.0]
    # ...or leave it to open the next epoch (flush, then ingest), whose
    # timer (19 h) the watermark passes in trigger 3.
    res = check_stream(rows, wm_used, [(2, _out(rows, [0, 1])), (3, _out(rows, [3])), x],
                       GRACE)
    assert res.errors == []
    assert res.flushes == 3


def test_only_a_lone_sentinel_may_stay_buffered():
    rows, wm_used, flushes = _trace()
    # A sentinel read at trigger 4 opens a new epoch of k (flushed at 3)
    # whose timer the watermark never passes.
    sentinel = pd.DataFrame({"batch": [4], "key": ["k"], "h": [100], "rid": [99]})
    sentinel["ts_us"] = (B + sentinel["h"] * H) * 1000
    rows = pd.concat([rows, sentinel], ignore_index=True)
    assert check_stream(rows, wm_used, flushes, GRACE, sentinel=99).errors == []
    assert any("never flushed" in e for e in check_stream(rows, wm_used, flushes, GRACE).errors)
    # In an epoch with another row, it does not excuse that row.
    other = sentinel.assign(h=95, rid=98, ts_us=(B + 95 * H) * 1000)
    rows = pd.concat([rows, other], ignore_index=True)
    assert any("never flushed" in e for e in check_stream(
        rows, wm_used, flushes, GRACE, sentinel=99).errors)


def test_checker_rejects_a_flush_before_its_timer():
    rows, wm_used, flushes = _trace()
    # At trigger 1 the watermark (-9 h) has not passed k's 10 h timer.
    early = [(1, _out(rows, [0, 1])), (3, _out(rows, [3]))] + flushes[1:]
    assert any("before the watermark" in e for e in check_stream(
        rows, wm_used, early, GRACE).errors)


def test_rows_never_emitted_count_until_stop():
    rows, wm_used, flushes = _trace()
    res = check_stream(rows, wm_used, flushes[:1], GRACE)
    assert any("never flushed" in e for e in res.errors)
    assert _lags(res, rows, wm_used) == [19.0, 19.0, 19.0, 860.0, 860.0]


def test_late_rows_use_the_previous_triggers_watermark():
    rows = pd.DataFrame({"batch": [0, 1, 2], "key": ["a", "a", "a"],
                         "h": [30, 1, 5], "rid": [0, 1, 2]})
    rows["ts_us"] = (B + rows["h"] * H) * 1000
    # Trigger 1 runs with watermark 20 h but filters input with
    # trigger 0's watermark (0): the 1 h row is kept. Trigger 2 filters
    # with 20 h and drops the 5 h row.
    wm_used = {0: 0, 1: B + 20 * H, 2: B + 20 * H, 3: B + 20 * H}
    res = check_stream(rows, wm_used, [], GRACE)
    assert res.rows["late"].tolist() == [False, False, True]


def test_tail_is_the_highest_percentile_with_ten_beyond():
    assert tail(range(20)) == (19, 100.0, 20)
    value, pct, n = tail(range(100))
    assert (value, n) == (89, 100) and np.isclose(pct, 90.0)
    assert tail(range(21))[:2] == (10, 100.0 * 11 / 21)
