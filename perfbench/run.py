#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed``
under ``.perfbench_work/`` (deleted at exit); the traced run writes its
spans to ``.perfbench_out/``. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``, with
the end-to-end metrics when ``--trace 0`` and the per-layer metrics when
``--trace 1``. Every metric is printed for every workload; a layer a
workload never calls reads 0.

Workloads (see ``BENCHMARK.json`` for why each was chosen):

* ``reorder_app``: open-loop feed from a separate process into
  ``app.build_topology``, one global order (``streams.py``);
* ``batch_mix``: registry builders plus a ``noop`` write per query,
  each result checked against its DuckDB oracle first (``batch.py``).

End-to-end metrics, one definition for every workload:

* ``setup_s``: process start to ready, input generation excluded:
  interpreter, imports, JVM launch, ``session.get_spark`` and the
  workload's warm-up, which for the stream is the first trigger of a
  started query. One set-up per run; its noise is left to the median
  over runs.
* ``rows_per_s``: input rows per second. Streams: rows read from the
  start of the measured query to the sink's last commit. Batch: rows
  of the input files each query reads, summed over the mix, divided by
  the median wall time of a pass over the mix.
* ``step_p50_ms``, ``step_tail_ms``, ``step_geomean_ms``: duration of a
  step, a data-bearing trigger for streams and one query (builder plus
  action) for batch. The tail is the highest percentile with at least
  ten samples beyond it (the maximum below 21 samples). For batch the
  median and the geometric mean are taken over each query's median
  time, so a query that runs slow in one pass does not move them.
* ``emit_lag_p50_s``, ``emit_lag_tail_s``: per output row, the time
  from when its flush fell due to the sink commit that wrote it (see
  ``checks.emit_lags``); for batch, per query result, the time from
  the start of the pass to the query's completion. Tails as above.

``error_rate`` is ``failed / attempted`` in the result line: an
operation is one query run for batch and one run's output check for
streams. It is not a metric of its own because it is 0 on correct code.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafka_streams_reorder_timestamp_spark"
WORKLOADS = ("reorder_app", "batch_mix")
CORES = 4
# The package's default driver heap (16 g) is the whole machine here;
# the benchmark's inputs need a fraction of it.
DRIVER_MEM = "3g"


def _prepare_env(work: str) -> dict[str, str]:
    """Pin cores and memory and keep every scratch file in the run's
    work directory. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(min(CORES, os.cpu_count() or CORES))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


class Run:
    """State of one benchmark process: arguments, work directory,
    session, tracer and the metrics collected so far."""

    def __init__(self, args, work: str, spark_conf: dict[str, str]):
        from spans import Tracer

        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.spark_conf = spark_conf
        self.tracer = Tracer(f"{args.workload}-{args.seed}", self.trace)
        self.spark = None
        self.jobs = None
        self.layers: dict[str, float] = {}
        self.extra: dict = {}
        self.gen_s = 0.0
        self.rss = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup(self, warm) -> None:
        """The run's one set-up, timed from process start with input
        generation left out; ``warm(run)`` is the workload's warm-up."""
        from kafka_streams_reorder_timestamp_spark.session import get_spark
        from spans import JobCounter

        t0 = T_PROCESS + self.gen_s
        with self.tracer.span("setup", None):
            t1 = time.time()
            with self.tracer.span("get_spark", "session"):
                self.spark = get_spark(app_name="perfbench", extra_conf=self.spark_conf)
            t2 = time.time()
            self.jobs = JobCounter(self.spark, self.trace)
            if self.trace:
                from spans import RssSampler

                self.rss = RssSampler(self.jvm_pid()).__enter__()
            warm(self)
        t3 = time.time()
        self.setup_s = t3 - t0
        self.layers["session.cold_start_s"] = t2 - t0
        self.layers["session.create_s"] = t2 - t1
        self.layers["session.warm_s"] = t3 - t2

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.rss is not None:
            self.rss.__exit__(None, None, None)
            self.layers["session.peak_rss_mb"] = self.rss.peak_kb / 1024
            self.rss = None
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw else None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid


E2E = ("setup_s", "rows_per_s", "step_p50_ms", "step_tail_ms", "step_geomean_ms",
       "emit_lag_p50_s", "emit_lag_tail_s")


def per_layer_names() -> list[str]:
    import batch

    names = [
        "session.create_s", "session.cold_start_s", "session.warm_s", "session.peak_rss_mb",
        "sources.load_table_s", "sources.offset_ms",
        "operators.build_s", "operators.build_jobs", "operators.action_s",
        "operators.action_jobs", "operators.action_tasks", "operators.failed_tasks",
    ]
    for q in batch.QUERIES:
        names += [f"operators.{q}.build_s", f"operators.{q}.action_s"]
    names += [
        "reorder.add_batch_ms", "reorder.planning_ms", "reorder.wal_ms",
        "reorder.state_commit_ms", "reorder.rocksdb_sync_ms", "reorder.rocksdb_snapshot_ms",
        "reorder.state_groups", "reorder.state_sst_bytes_peak", "reorder.state_dir_bytes",
        "reorder.rows_dropped_late", "reorder.rows_deduped", "reorder.flushes",
        "reorder.emitted_before_end_share",
        "app.start_s", "app.backlog_rows", "app.gen_late_ms",
    ]
    names += [f"self.{layer}_s" for layer in ("session", "sources", "operators", "reorder", "app")]
    return names


UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB", "_bytes": "bytes", "_share": "ratio",
         "_rows": "rows", "rows_per_s": "rows/s"}


def unit_of(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "rows/s"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix) or name.endswith(suffix + "_peak"):
            return unit
    return "count"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    # A terminated run still stops its query, generator and JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spark_conf = _prepare_env(work)
    sys.path.insert(0, ROOT)
    run = Run(args, work, spark_conf)
    try:
        import batch
        import streams

        fn = {"reorder_app": streams.run_app, "batch_mix": batch.run_batch}[args.workload]
        res = fn(run)
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    if run.trace:
        selfs = run.tracer.self_times()
        for layer, v in selfs.items():
            run.layers[f"self.{layer}_s"] = v
        metrics = {n: run.layers.get(n, 0.0) for n in per_layer_names()}
        out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
        run.tracer.write(out, {"end_to_end": res["e2e"], "per_layer": metrics,
                               "extra": run.extra})
    else:
        metrics = {k: res["e2e"][k] for k in E2E}
    missing = [k for k, v in metrics.items() if v is None or v != v]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    print(json.dumps(run.extra, default=str), file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v), "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
