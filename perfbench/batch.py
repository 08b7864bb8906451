"""``batch_mix``: registered queries built by their registry builders and
run with a ``noop`` write, the cache cleared between queries as
``bench.py`` does.

Per run: generate the catalog tables, set up once (warm-up opens
every table the mix reads through ``sources.catalog.load_table`` and
starts the Python workers), check every query once against its DuckDB
oracle, run one more pass as the timed ones do, then time one pass
over the mix per ``PASS_S`` seconds of ``--seconds``. The two untimed
passes are the queries' warm-up. Pass times still fall a little over
the first timed passes; the medians over them absorb that.
"""

from __future__ import annotations

import time

from checks import check_query, geomean, median, tail

SF = 0.01
# One timed pass per PASS_S seconds of --seconds (a warm pass takes
# about 3.5 s on 4 cores). At --seconds 20 that is seven passes over
# five queries, 35 steps: the tail (the 25th) then falls inside the
# heavy queries' cluster of times, not on the gap below it, where a
# run's figure would jump.
PASS_S = 3

# A light slice of the registry that fits the benchmark's time budget:
# the batch form of the paper's operator, three TPC-H-style relational
# queries (a scan aggregate, a five-way join, an IN-subquery) and an
# order backlog (join, aggregate, then a running sum over months).
# Input rows per query are the rows of the tables its builder reads.
# Three of the five take 0.7-1 s a pass on 4 cores, so the median query
# is one of them; q1's time moves between two levels from one process
# to the next (about 0.45 and 0.67 s), and with two heavy queries only
# the median landed on q1.
TABLES_READ = {
    "reorder_events": ("events",),
    "orders_backlog_monthly": ("lineitem", "orders"),
    "q1_pricing_summary": ("lineitem",),
    "q9_product_profit": ("lineitem", "nation", "part", "supplier"),
    "q18_large_volume_customers": ("customer", "lineitem", "orders"),
}
QUERIES = tuple(TABLES_READ)


def _warm(run, sf_dir: str) -> None:
    """Open every table the mix reads and start the Python workers."""
    from kafka_streams_reorder_timestamp_spark.sources.catalog import load_table
    from pyspark.sql.functions import col, pandas_udf

    spark = run.spark
    t_load = 0.0
    for t in sorted({t for ts in TABLES_READ.values() for t in ts}):
        t0 = time.time()
        with run.tracer.span(f"load_table {t}", "sources"):
            load_table(spark, sf_dir, t)
        t_load += time.time() - t0
    run.layers["sources.load_table_s"] = t_load

    @pandas_udf("long")
    def _noop(s):
        import numpy  # noqa: F401

        return s

    spark.range(1000, numPartitions=4).select(_noop(col("id"))).write.format(
        "noop").mode("overwrite").save()


def _oracle_con(sf_dir: str):
    import duckdb
    from kafka_streams_reorder_timestamp_spark.sources.catalog import TABLES

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def run_batch(run) -> dict:
    import inputs
    from kafka_streams_reorder_timestamp_spark.operators import registry

    t0 = time.time()
    sf_dir = run.path("tables")
    table_rows = inputs.write_tables(sf_dir, run.seed, SF)
    run.gen_s = time.time() - t0
    run.setup(lambda r: _warm(r, sf_dir))
    spark = run.spark

    # Untimed check pass: every result against its oracle.
    con = _oracle_con(sf_dir)
    attempted = failed = 0
    errors: dict[str, str] = {}
    t_check = time.time()
    for q in QUERIES:
        spec = registry.REGISTRY[q]
        attempted += 1
        spark.catalog.clearCache()
        try:
            sdf = spec.builder(spark, sf_dir).toPandas()
            err = check_query(sdf, con.execute(spec.oracle).fetch_df())
        except Exception as e:  # keep checking the rest
            err = f"{type(e).__name__}: {e}"[:300]
        if err:
            failed += 1
            errors[q] = err
    con.close()
    spark.catalog.clearCache()
    run.extra["check_s"] = time.time() - t_check

    samples: dict[str, list[float]] = {q: [] for q in QUERIES}
    build: dict[str, list[float]] = {q: [] for q in QUERIES}
    action: dict[str, list[float]] = {q: [] for q in QUERIES}
    done_at: list[float] = []
    passes: list[float] = []
    counts = {"build": {}, "action": {}}

    def one_pass(timed: bool) -> None:
        nonlocal attempted, failed
        p0 = time.time()
        with run.tracer.span(f"pass {len(passes)}" if timed else "warm pass", None):
            for q in QUERIES:
                attempted += 1
                spark.catalog.clearCache()
                try:
                    t1 = time.time()
                    with run.tracer.span(f"build {q}", "operators"), \
                            run.jobs.group(f"build {q}", counts["build"] if timed else {}):
                        df = registry.REGISTRY[q].builder(spark, sf_dir)
                    t2 = time.time()
                    with run.tracer.span(f"action {q}", "operators"), \
                            run.jobs.group(f"action {q}", counts["action"] if timed else {}):
                        df.write.format("noop").mode("overwrite").save()
                    t3 = time.time()
                except Exception as e:
                    failed += 1
                    errors.setdefault(q, f"{type(e).__name__}: {e}"[:300])
                    continue
                if timed:
                    build[q].append(t2 - t1)
                    action[q].append(t3 - t2)
                    samples[q].append(t3 - t1)
                    done_at.append(t3 - p0)
        if timed:
            passes.append(time.time() - p0)

    one_pass(timed=False)
    # A fixed number of timed passes for --seconds, whatever the host's
    # speed, so that the medians do not move with the pass count.
    for _ in range(max(2, round(run.seconds / PASS_S))):
        one_pass(timed=True)
    spark.catalog.clearCache()

    per_query = {q: median(v) for q, v in samples.items() if v}
    all_steps = [x for v in samples.values() for x in v]
    rows_in = sum(table_rows[t] for q in QUERIES for t in TABLES_READ[q])
    run.extra.update(passes_s=passes, per_query_s=per_query, errors=errors)
    run.layers.update({
        "operators.build_s": sum(median(v) for v in build.values() if v),
        "operators.action_s": sum(median(v) for v in action.values() if v),
        "operators.build_jobs": counts["build"].get("jobs", 0) / len(passes),
        "operators.action_jobs": counts["action"].get("jobs", 0) / len(passes),
        "operators.action_tasks": counts["action"].get("tasks", 0) / len(passes),
        "operators.failed_tasks": counts["build"].get("failed_tasks", 0)
        + counts["action"].get("failed_tasks", 0),
    })
    for q in QUERIES:
        if build[q]:
            run.layers[f"operators.{q}.build_s"] = median(build[q])
            run.layers[f"operators.{q}.action_s"] = median(action[q])
    e2e = {
        "setup_s": run.setup_s,
        "rows_per_s": rows_in / median(passes),
        "step_p50_ms": 1000 * median(list(per_query.values())),
        "step_tail_ms": 1000 * tail(all_steps)[0],
        "step_geomean_ms": 1000 * geomean(list(per_query.values())),
        "emit_lag_p50_s": median(done_at),
        "emit_lag_tail_s": tail(done_at)[0],
    }
    run.extra["step_tail"] = tail(all_steps)[1:]
    return {"e2e": e2e, "attempted": attempted, "failed": failed}

