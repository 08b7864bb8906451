"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same tables, the same stream files and the same feed schedule. The
program under test only ever sees the files written here.

* ``write_tables``: catalog-shaped parquet tables (the ten tables of
  ``sources.catalog.TABLES``, same column names and types as the
  catalog documents) for the batch mix.
* ``order_stream`` / ``feed``: the ``ElectronicOrder`` feed of the
  shipped topology, in arrival order, with planted duplicates and
  stragglers; ``python3 perfbench/inputs.py feed ...`` runs it as its
  own process on a fixed schedule (open loop).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GRACE_MS = 10 * 3600 * 1000  # reorder grace of the stream workload
MAX_DELAY_S = 2 * 3600  # ordinary arrival delay: up to 2 h
STRAGGLER_DELAY_S = (20 * 3600, 30 * 3600)  # later than grace
DUP_SHARE = 0.01
STRAGGLER_SHARE = 0.005
EVENT_START = pd.Timestamp("2024-01-01")
EVENT_SPAN_S = 30 * 86400
WORDS = (
    "a the key agg row scan slow fast table value part hash batch window "
    "spark order data column join small line customer query merge filter "
    "big group sort stream vector"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose) so adding a table never
    shifts another table's values."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _dates(rng, n, lo, hi) -> np.ndarray:
    days = (pd.Timestamp(hi) - pd.Timestamp(lo)).days
    return (
        pd.Timestamp(lo) + pd.to_timedelta(rng.integers(0, days + 1, n), unit="D")
    ).values.astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, sf: float = 0.01) -> dict[str, pd.DataFrame]:
    """The ten catalog tables at scale factor ``sf``: uniform keys and
    values in the ranges of the catalog's reference data, 5 % of
    documents near-duplicates of an earlier one."""
    n_cust, n_ord, n_part, n_supp = (
        int(150_000 * sf), int(1_500_000 * sf), int(200_000 * sf), int(10_000 * sf)
    )
    n_ev, n_users, n_docs = int(1_000_000 * sf), int(15_000 * sf), int(50_000 * sf)
    i32 = np.int32
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    r = _rng(seed, "customer")
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    r = _rng(seed, "supplier")
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99),
    })
    r = _rng(seed, "part")
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in r.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": r.choice(
            ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part
        ),
        "p_size": r.integers(1, 51, n_part).astype(i32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    r = _rng(seed, "orders")
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _dates(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    r = _rng(seed, "lineitem")
    n_li = 4 * n_ord
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(i32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, n_li, 900.0, 105_000.0),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": _dates(r, n_li, "1995-01-02", "2001-11-04"),
    })
    t["events"] = make_events(seed, n_ev, n_users)
    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, int(r.integers(10, 101)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": r.choice(["en", "zh", "es", "de", "fr"], n_docs,
                         p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    r = _rng(seed, "embeddings")
    emb = r.standard_normal((n_docs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": list(emb),
        "label": r.integers(0, 10, n_docs).astype(i32),
    })
    return t


def make_events(seed: int, n: int, n_users: int) -> pd.DataFrame:
    """``events`` in event-time order over 30 days from 2024-01-01."""
    r = _rng(seed, "events")
    gaps = r.exponential(1.0, n)
    offs_us = (np.cumsum(gaps) / gaps.sum() * (EVENT_SPAN_S - 60) * 1e6).astype(np.int64)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (EVENT_START.value // 1000 + offs_us).astype("datetime64[us]"),
        "user_id": r.integers(0, n_users, n).astype(np.int64),
        "event_type": r.choice(["click", "view", "purchase", "signup", "error"], n),
        "value": np.maximum(np.round(r.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def write_tables(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write one parquet file per table; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in make_tables(seed, sf).items():
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )
        rows[name] = len(df)
    return rows


def _disorder(seed: int, stream: str, ts_us: np.ndarray, protect: int):
    """Arrival order for rows with event times ``ts_us``: each row
    arrives at event time + U(0, 2 h), except a 0.5 % share of
    stragglers that arrive 20-30 h late, beyond the 10 h grace, so the
    watermark has passed them unless one trigger reads more than
    about 8 h of event time. The first ``protect`` rows in event time
    are never stragglers, so none lands in the first trigger, where
    the watermark is still 0. Returns (order, is
    straggler) with ``order`` indexing ``ts_us``."""
    r = _rng(seed, stream + "/disorder")
    n = len(ts_us)
    delay = r.uniform(0, MAX_DELAY_S, n) * 1e6
    strag = r.random(n) < STRAGGLER_SHARE
    strag[:protect] = False
    delay[strag] = r.uniform(*STRAGGLER_DELAY_S, strag.sum()) * 1e6
    order = np.argsort(ts_us + delay, kind="stable")
    return order, strag[order]


def _plant_dups(seed: int, stream: str, df: pd.DataFrame, rows_per_file: int,
                fresh) -> pd.DataFrame:
    """Insert a 1 % share of duplicates: a copy of an earlier row's
    (key, event time) with a fresh payload, placed later in the SAME
    file, so that first-arrival-wins always keeps the original no
    matter how triggers group files. Adds the ``kind`` column
    (``row`` / ``dup`` / ``straggler``)."""
    r = _rng(seed, stream + "/dups")
    out = []
    for start in range(0, len(df), rows_per_file):
        part = df.iloc[start:start + rows_per_file].copy()
        n_dup = int(r.binomial(len(part), DUP_SHARE))
        cand = np.flatnonzero(part["kind"].values == "row")
        if n_dup and len(cand) > 1:
            picks = r.choice(cand[:-1], min(n_dup, len(cand) - 1), replace=False)
            rows = [part]
            for p in sorted(picks):
                d = part.iloc[[p]].copy()
                d = fresh(d, r)
                d["kind"] = "dup"
                d["_pos"] = int(r.integers(p + 1, len(part))) + 0.5
                rows.append(d)
            part["_pos"] = np.arange(len(part), dtype=float)
            part = pd.concat(rows).sort_values("_pos", kind="stable").drop(columns="_pos")
        out.append(part)
    return pd.concat(out, ignore_index=True)


def order_stream(seed: int, rows_per_file: int, n_files: int,
                 row_step_s: float) -> pd.DataFrame:
    """``ElectronicOrder`` rows for ``n_files`` feed files, one order
    every ``row_step_s`` seconds of event time on average."""
    n = rows_per_file * n_files
    r = _rng(seed, "orders-feed")
    step_us = row_step_s * 1e6
    ts_us = (EVENT_START.value // 1000 + np.arange(n) * step_us
             + r.uniform(0, step_us, n)).astype(np.int64)
    order, strag = _disorder(seed, "orders-feed", ts_us, protect=4 * rows_per_file)
    ts_us = ts_us[order]
    df = pd.DataFrame({
        "order_id": [f"o{i}" for i in range(n)],
        "electronic_id": r.choice(["one", "two", "three", "four"], n),
        "user_id": [f"u{u}" for u in r.integers(0, 1_500, n)],
        "price": np.round(r.uniform(1.0, 500.0, n), 2),
        "time": ts_us // 1000,
        "event_time": ts_us.astype("datetime64[us]"),
        "kind": np.where(strag, "straggler", "row"),
        "_file": np.arange(n) // rows_per_file,
    })

    def fresh(d, r):
        d["order_id"] = d["order_id"] + "-dup"
        d["price"] = np.round(r.uniform(1.0, 500.0, len(d)), 2)
        return d

    # One global order: the whole stream is one group, so a duplicate
    # is a repeated event time (the reference's dedup key).
    return _plant_dups(seed, "orders-feed", df, rows_per_file, fresh)


def split_files(df: pd.DataFrame) -> list[pd.DataFrame]:
    """Per-file row blocks, in file order, without the bookkeeping
    columns."""
    cols = [c for c in df.columns if c not in ("kind", "_file")]
    return [g[cols].reset_index(drop=True) for _, g in df.groupby("_file", sort=True)]


def write_atomic(table: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    """Write a parquet file under a name the file source ignores, then
    rename it into place, so a listing never sees half a file."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f"_{base}.tmp")
    pq.write_table(pa.Table.from_pandas(table, schema=schema, preserve_index=False), tmp)
    os.rename(tmp, path)


def feed(seed: int, out_dir: str, ledger: str, n_files: int, rows_per_file: int,
         interval_s: float, row_step_s: float, start_at: float) -> None:
    """Open-loop feed: file ``i`` is due at ``start_at + i * interval_s``
    (wall clock) and is written then, however far the engine has fallen
    behind; a late generator writes at once and never skips a file. The
    ledger records, per file, when it was due and when it landed."""
    files = split_files(order_stream(seed, rows_per_file, n_files, row_step_s))
    schema = order_schema()
    log = []
    for i, part in enumerate(files):
        due = start_at + i * interval_s
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        write_atomic(part, os.path.join(out_dir, f"feed-{i:05d}.parquet"), schema)
        log.append({"file": i, "due": due, "written": time.time(), "rows": len(part)})
    with open(ledger + ".tmp", "w") as f:
        json.dump(log, f)
    os.rename(ledger + ".tmp", ledger)


def order_schema() -> pa.Schema:
    return pa.schema([
        ("order_id", pa.string()), ("electronic_id", pa.string()),
        ("user_id", pa.string()), ("price", pa.float64()), ("time", pa.int64()),
        ("event_time", pa.timestamp("us")),
    ])


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="benchmark input generator")
    sub = ap.add_subparsers(dest="cmd", required=True)
    f = sub.add_parser("feed", help="run the open-loop order feed")
    f.add_argument("--seed", type=int, required=True)
    f.add_argument("--dir", required=True)
    f.add_argument("--ledger", required=True)
    f.add_argument("--files", type=int, required=True)
    f.add_argument("--rows-per-file", type=int, required=True)
    f.add_argument("--interval", type=float, required=True)
    f.add_argument("--row-step", type=float, required=True,
                   help="event-time seconds between consecutive orders")
    f.add_argument("--start-at", type=float, required=True)
    a = ap.parse_args(argv)
    feed(a.seed, a.dir, a.ledger, a.files, a.rows_per_file, a.interval, a.row_step, a.start_at)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
