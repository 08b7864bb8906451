"""Plan-shape gates: the engine's perf contract is "Catalyst picked the
plan we want" — these tests pin that shape so a regression (lost
pushdown, un-broadcast dim, surprise shuffle, codegen fallout) fails
CI rather than showing up as a 10x slowdown at scale.

All assertions are scale-free plan properties, checked at sf0.001 for
speed; the same shapes hold at any SF because they do not depend on
row counts (the one AQE-dependent case, q5's supplier join, is
asserted on the static plan where supplier must NOT be broadcast by a
hard-coded hint).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_reorder_timestamp_spark import plans
from kafka_streams_reorder_timestamp_spark.operators.relational import (
    q1_pricing_summary,
    q3_segment_revenue,
    q5_nation_revenue,
    q6_forecast_revenue,
    top10_orders_global,
)
from kafka_streams_reorder_timestamp_spark.operators.text import text_token_stats
from kafka_streams_reorder_timestamp_spark.operators.dedup import dedup_exact_docs


def test_q1_scan_agg_shape(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    # One shuffle (partial -> final agg), date filter pushed to parquet,
    # only the 7 referenced columns read (of lineitem's 16).
    plans.assert_plan(
        df,
        max_shuffles=1,
        require_pushed_filter="LessThanOrEqual(l_shipdate",
        max_read_columns=7,
    )
    assert plans.wholestage_codegen_ids(df) >= 1


def test_q6_pure_scan_filter(spark, sf_dir):
    df = q6_forecast_revenue(spark, sf_dir)
    # Single-stage scan+filter+agg: range predicates all pushed; scan
    # reads only the 4 referenced columns.
    plans.assert_plan(
        df,
        max_shuffles=1,
        require_pushed_filter="GreaterThanOrEqual(l_shipdate",
        max_read_columns=4,
    )


def test_q5_dims_broadcast_supplier_not_forced(spark, sf_dir):
    df = q5_nation_revenue(spark, sf_dir)
    # nation + region ride broadcast joins; the static plan must not
    # force-broadcast supplier (it scales with SF — at sf0.001 AQE may
    # still choose broadcast at runtime, which is fine and exactly the
    # point of leaving it to AQE).
    assert plans.broadcast_join_count(df) >= 2
    assert "o_orderdate" in " ".join(plans.pushed_filters(df))


def test_q3_dim_filter_before_join(spark, sf_dir):
    df = q3_segment_revenue(spark, sf_dir)
    # The customer segment predicate must reach the customer scan, not
    # run post-join.
    assert any("c_mktsegment" in f for f in plans.pushed_filters(df))


def test_top10_uses_topk_not_global_sort(spark, sf_dir):
    df = top10_orders_global(spark, sf_dir)
    # ORDER BY + LIMIT must plan TakeOrderedAndProject (per-partition
    # top-k, k-row merge) — a global range-partitioned Sort would
    # shuffle the whole table.
    plan = plans.physical_plan(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert plans.shuffle_count(df) == 0


def test_text_scan_prunes_columns(spark, sf_dir):
    df = text_token_stats(spark, sf_dir)
    # documents has 5 columns; the stats query must read only text +
    # n_chars + doc_id.
    assert plans.read_schema_columns(df) == {"doc_id", "text", "n_chars"}


def test_exact_dedup_single_shuffle(spark, sf_dir):
    df = dedup_exact_docs(spark, sf_dir)
    # Fingerprint dedup = one hash-partition shuffle on the digest.
    assert plans.shuffle_count(df) == 1


def test_knn_probes_broadcast(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.similarity import (
        knn_topk_cosine,
    )

    df = knn_topk_cosine(spark, sf_dir)
    plan = plans.physical_plan(df, "simple")
    # probe side rides a broadcast (nested-loop for the cross join);
    # the corpus is never shuffled for scoring — only the tiny scored
    # projection shuffles into the per-probe top-k window
    assert "Broadcast" in plan
    assert plans.read_schema_columns(df) == {"vec_id", "embedding"}


def test_price_band_join_broadcasts_dim(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.breadth import (
        price_band_parts,
    )

    plan = plans.physical_plan(price_band_parts(spark, sf_dir), "simple")
    # non-equi band join: the only sane physical shape is the tiny dim
    # broadcast under a nested-loop; the fact side must NOT shuffle
    # before the join
    assert "BroadcastNestedLoopJoin" in plan
    df = price_band_parts(spark, sf_dir)
    assert plans.read_schema_columns(df) == {"p_retailprice"}


def test_jaccard_join_is_not_cartesian(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.dedup import (
        dedup_jaccard_pairs,
    )

    plan = plans.physical_plan(dedup_jaccard_pairs(spark, sf_dir), "simple")
    # the (lang, source) blocking keys must drive an equi-join —
    # a CartesianProduct/BroadcastNestedLoopJoin over documents would
    # be the all-pairs scale bug this operator exists to avoid
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_registry_wide_plan_hygiene(spark, sf_dir):
    """Blanket gate over EVERY registered query: no unconditioned
    cartesian product and no row-at-a-time Python UDF anywhere. The
    two named exceptions are deliberate broadcast cross joins (tiny
    probe/centroid side under a nested loop); Arrow-batched pandas
    UDFs (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are
    the sanctioned Python path and pass."""
    from kafka_streams_reorder_timestamp_spark.operators import registry

    offenders = {}
    for name, spec in registry.REGISTRY.items():
        plan = plans.physical_plan(spec.builder(spark, sf_dir), "simple")
        problems = []
        if "CartesianProduct" in plan:
            problems.append("CartesianProduct")
        if "BatchEvalPython" in plan:  # row-Python; Arrow paths differ
            problems.append("BatchEvalPython")
        funnels = plans.single_partition_scan_funnels(spec.builder(spark, sf_dir))
        if funnels:  # raw-scan data through one task (global window/sort)
            problems.append(f"SinglePartitionScanFunnel x{len(funnels)}")
        if problems:
            offenders[name] = problems
    assert not offenders, f"plan hygiene violations: {offenders}"


def test_minhash_lsh_lazy_and_reused(spark, sf_dir):
    """The LSH dedup plan must (a) execute NOTHING while being built —
    no persist + eager count side effect (an earlier version ran the
    full UDF pipeline on plan construction and leaked cached
    partitions), and (b) share the candidate-pair and candidate-shingle
    exchanges between their two consumers each, so the full-corpus
    signature UDF stays single-consumer and runs exactly once."""
    from kafka_streams_reorder_timestamp_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    from kafka_streams_reorder_timestamp_spark.sources.catalog import load_table

    sc = spark.sparkContext

    def job_id() -> int:
        return sc._jsc.sc().dagScheduler().nextJobId()

    # Baseline: a bare table read costs a fixed few jobs (file listing +
    # parquet schema). Building the whole LSH plan must cost no more —
    # i.e. the UDF pipeline must NOT execute as a plan-build side
    # effect (the old persist+count ran dozens of jobs here).
    j0 = job_id()
    load_table(spark, sf_dir, "documents")
    j1 = job_id()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = dedup_minhash_lsh(spark, sf_dir)
        j2 = job_id()
        plan = plans.executed_plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert j2 - j1 <= j1 - j0, (
        f"plan construction ran {j2 - j1} jobs (bare read costs {j1 - j0})"
    )
    assert "InMemoryTableScan" not in plan, "unexpected cache in LSH plan"
    # cand (dropDuplicates exchange: verify probe + candidate-id derive)
    # and shingled (repartition: sh_a + sh_b) each reused once. Checked
    # on the static planner; AQE performs the same reuse at runtime.
    assert plan.count("ReusedExchange") >= 2, plan


def test_curation_pipeline_corpus_exchanges_pinned(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.pipeline import (
        corpus_curation_pipeline,
    )

    df = corpus_curation_pipeline(spark, sf_dir)
    # Still one fused plan, nothing materialized between stages —
    # pinned BY GRANULARITY, not by a total ceiling (a ceiling wide
    # enough for the scalar/2048-row exchanges would also absorb a
    # lost broadcast). The exchanges that move CORPUS-sized data are
    # keyed on per-document keys: the fingerprint window (_w0), the
    # per-doc score agg (doc_id), the labeled-vs-scores outer join
    # (doc_id) and the keep semi-join (doc_id) — exactly 4. Everything
    # else is bucket-granularity (<=2048 rows post partial-agg),
    # scalar, or the final group rollup.
    keys = plans.exchange_partition_keys(df)
    corpus = [
        k
        for k in keys
        if any(c == "doc_id" or c.startswith("_w") for c in k)
    ]
    assert len(corpus) == 4, (
        f"corpus-granularity exchanges {corpus}: "
        + plans.physical_plan(df, "simple")
    )
    # The 2048-row weight table must BROADCAST into the corpus-side
    # feature join; a broadcast->SortMergeJoin degradation re-keys the
    # corpus features on bucket and is the exact regression this pin
    # exists to catch.
    plan = plans.physical_plan(df, "simple")
    assert "BroadcastHashJoin [bucket" in plan, plan
    assert "SortMergeJoin [bucket" not in plan, plan
    assert plans.read_schema_columns(df) == {
        "doc_id", "text", "lang", "source", "n_chars",
    }


def test_classifier_rollups_carry_source_without_extra_join(spark, sf_dir):
    """The monitoring rollups (confusion, drift) must get `source` by
    riding it THROUGH the labeled scan, not by joining back to
    documents on doc_id — and since r13's join-free scoring shape
    (`_apply_model_fb`: explode_outer carries doc_id/source/y through
    the feature rows) the ONLY doc-granularity exchange left is the
    per-doc-sums groupBy itself. Exactly 1 doc_id-keyed exchange: a
    second one would mean the reassembly join crept back; a
    doc_id-join to documents would make it 3+. At corpus scale each
    extra exchange is a whole shuffle of the corpus."""
    from kafka_streams_reorder_timestamp_spark.operators.classifier import (
        quality_classifier_confusion,
        quality_model_drift,
    )

    for q in (quality_classifier_confusion, quality_model_drift):
        keys = plans.exchange_partition_keys(q(spark, sf_dir))
        n_doc = sum(1 for k in keys if "doc_id" in k)
        assert n_doc == 1, (q.__name__, keys)


def test_runtime_bloom_filter_injection_available(spark, sf_dir):
    """The engine's session must support Spark's runtime bloom-filter
    semi-join reduction: with a selective build side, the optimizer
    injects bloom_filter_agg/might_contain onto the probe scan. At
    bench SF the probe side is under the (deliberately untouched)
    10 GB application-side threshold so the filter never fires in
    production plans here — this pins that at 100 TB scan sizes the
    big-side reduction IS available, not silently disabled."""
    from kafka_streams_reorder_timestamp_spark.sources.catalog import load_table

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    old_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        l = load_table(spark, str(sf_dir), "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        o = (
            load_table(spark, str(sf_dir), "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        plan = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thr,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_gopher_rules_pure_scan(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.text import (
        docs_gopher_rules,
    )

    df = docs_gopher_rules(spark, sf_dir)
    # five quality gates in one codegen'd scan: no shuffle, only the
    # referenced columns read
    assert plans.shuffle_count(df) == 0
    assert plans.read_schema_columns(df) == {
        "doc_id", "lang", "text", "n_chars",
    }


def test_zorder_zonemap_single_agg_shuffle(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.breadth import (
        lineitem_zorder_zonemap,
    )

    df = lineitem_zorder_zonemap(spark, sf_dir)
    # max-agg broadcast back + one partial-agg shuffle of 32 zone
    # groups; the scan reads exactly the two interleaved keys
    assert plans.shuffle_count(df) <= 2, plans.physical_plan(df, "simple")
    assert plans.read_schema_columns(df) == {"l_partkey", "l_suppkey"}


def test_skew_report_partial_agg_only(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.breadth import (
        join_key_skew_report,
    )

    df = join_key_skew_report(spark, sf_dir)
    # per key column: count shuffle + 1-row stats agg; the union adds
    # no extra exchange over the raw tables
    assert plans.read_schema_columns(df) <= {"l_orderkey", "user_id"}
    assert plans.shuffle_count(df) <= 4, plans.physical_plan(df, "simple")


def test_attribution_single_window_shuffle(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.events_queries import (
        purchase_attribution_last_touch,
    )

    df = purchase_attribution_last_touch(spark, sf_dir)
    # one hash-partition shuffle on user_id for the window, one tiny
    # channel agg
    assert plans.shuffle_count(df) <= 2, plans.physical_plan(df, "simple")


def test_sql_surface_matches_dataframe_builders(spark, sf_dir):
    """The engine's SQL surface: users can register the catalog views
    and run plain SQL; results must match the DataFrame builders
    row-for-row (q6 scalar, q1 grouped)."""
    from kafka_streams_reorder_timestamp_spark.operators.relational import (
        q1_pricing_summary,
        q6_forecast_revenue,
    )
    from kafka_streams_reorder_timestamp_spark.sources.catalog import (
        register_views,
    )

    register_views(spark, sf_dir)
    sql_q6 = spark.sql("""
        SELECT ROUND(SUM(CAST(l_extendedprice * l_discount
                              AS DECIMAL(25,6))), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """).collect()
    df_q6 = q6_forecast_revenue(spark, sf_dir).collect()
    assert float(sql_q6[0]["revenue"]) == float(df_q6[0]["revenue"])

    sql_q1 = {
        (r["l_returnflag"], r["l_linestatus"]): r["count_order"]
        for r in spark.sql("""
            SELECT l_returnflag, l_linestatus, COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """).collect()
    }
    df_q1 = {
        (r["l_returnflag"], r["l_linestatus"]): r["count_order"]
        for r in q1_pricing_summary(spark, sf_dir).collect()
    }
    assert sql_q1 == df_q1


def test_bm25_topk_and_bounded_explode(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.text import (
        docs_bm25_search,
    )

    df = docs_bm25_search(spark, sf_dir)
    plan = plans.physical_plan(df, "simple")
    # top-20 must be TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan, plan
    # the token explode feeds the query-term filter before any
    # exchange: no corpus-token shuffle survives in the plan
    assert plans.read_schema_columns(df) == {"doc_id", "text"}


def test_hybrid_rrf_ranks_after_cut(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.similarity import (
        hybrid_rrf_search,
    )

    df = hybrid_rrf_search(spark, sf_dir)
    plan = plans.physical_plan(df, "simple")
    # both legs cut with TakeOrderedAndProject before their 50-row
    # rank windows; no raw-scan single-partition funnel anywhere
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert plans.single_partition_scan_funnels(df) == []


def test_zorder_zones_bound_both_dimensions(spark, sf_dir):
    """The point of the Morton layout: EVERY zone's min/max span must
    be a strict fraction of the global range on BOTH keys (a 1-D sort
    bounds one and leaves the other unbounded) — the property that
    makes 2-column data skipping work."""
    from kafka_streams_reorder_timestamp_spark.operators.breadth import (
        lineitem_zorder_zonemap,
    )

    rows = lineitem_zorder_zonemap(spark, sf_dir).collect()
    assert len(rows) == 32
    gp = max(r["max_partkey"] for r in rows) - min(
        r["min_partkey"] for r in rows
    )
    gs = max(r["max_suppkey"] for r in rows) - min(
        r["min_suppkey"] for r in rows
    )
    for r in rows:
        assert (r["max_partkey"] - r["min_partkey"]) <= gp / 2
        assert (r["max_suppkey"] - r["min_suppkey"]) <= gs / 2


def test_registry_column_names_are_clean(spark, sf_dir):
    """Every registered query's output columns must be explicit
    aliases — no generated names like 'sum(x)', 'count(1)', or
    'CAST(...)' — because the driver's oracle comparator matches
    columns BY NAME and a generated name can never match the SQL
    alias. Mostly schema-only: building a plan does not execute it,
    except for the few builders that run a driver-side fit/collect at
    build time (pca_fit moment pass, bpe_train_merges, CMS aggregate),
    which makes this test slower than a pure-schema walk."""
    import re

    from kafka_streams_reorder_timestamp_spark.operators import registry

    bad = {}
    pat = re.compile(r"[()\s,]")
    for name, spec in registry.REGISTRY.items():
        cols = spec.builder(spark, sf_dir).columns
        ugly = [c for c in cols if pat.search(c)]
        if ugly or not cols:
            bad[name] = ugly or "EMPTY"
    assert not bad, f"unaliased/generated output columns: {bad}"


def test_classifier_scoring_broadcasts_weights(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.classifier import (
        quality_classifier_scores,
    )

    df = quality_classifier_scores(spark, sf_dir)
    plan = plans.physical_plan(df, "simple")
    # the 2048-row weight table must ride a broadcast into the feature
    # join (scoring at scan speed — a shuffled weight join would
    # repartition the corpus-sized feature stream on bucket), and the
    # plan must never go cartesian despite three 1-row scalar joins
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # scan reads only what the model needs: doc id, text, n_chars
    assert plans.read_schema_columns(df) == {"doc_id", "text", "n_chars"}


def test_semantic_decon_broadcasts_probes_and_prunes(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.pipeline import (
        decontaminate_semantic,
    )

    df = decontaminate_semantic(spark, sf_dir)
    plan = plans.physical_plan(df, "simple")
    # benchmark side broadcasts (nested-loop for the probe cross join);
    # the corpus embedding scan is never shuffled before scoring
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert plans.read_schema_columns(df) == {"vec_id", "embedding"}


def test_bpe_tokenize_broadcasts_vocab(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.text import (
        bpe_tokenize_corpus,
    )

    df = bpe_tokenize_corpus(spark, sf_dir)
    plan = plans.physical_plan(df, "simple")
    # On the bounded driver fast path the learned (word, token_count)
    # vocab joins broadcast — the corpus-sized (source, word)
    # aggregate must not shuffle on word to meet a shuffled vocab
    # table. (The unbounded distributed path leaves the choice to
    # AQE: a 1e9-word vocab is a legitimate shuffle join.)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plans.read_schema_columns(df) == {"source", "text"}


def test_dsir_broadcasts_ratio_table(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.sampling import (
        dsir_importance_weights,
    )

    df = dsir_importance_weights(spark, sf_dir)
    plan = plans.physical_plan(df, "simple")
    # the 2048-row log-ratio table must ride a broadcast into the
    # token-bucket join (scoring at scan speed) — a shuffled ratio
    # join would repartition the corpus-sized token stream on bucket;
    # the two 1-row totals joins must not go cartesian
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the scan reads only what the selector needs
    assert plans.read_schema_columns(df) == {"doc_id", "source", "text"}


def test_token_budget_mixture_single_agg_no_explode(spark, sf_dir):
    from kafka_streams_reorder_timestamp_spark.operators.sampling import (
        token_budget_mixture,
    )

    df = token_budget_mixture(spark, sf_dir)
    plan = plans.physical_plan(df, "simple")
    # token counting is in-row (size of the split array): the plan
    # must contain NO generate/explode, and the weights side is a
    # literal local table riding a broadcast
    assert "Generate" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plans.read_schema_columns(df) == {"lang", "text"}


def test_eval_report_single_train_subplan(spark, sf_dir):
    """quality_eval_report's contract: ONE train+score subplan, three
    rollups. The scored frame is persisted, so every rollup branch's
    path to the expensive work — the raw documents scan AND the
    bucket-keyed scoring join — passes through an InMemoryTableScan;
    nothing expensive executes outside the cache. The standalone
    confusion rollup (built in a CLEAN cache state) shows its scoring
    join OUTSIDE any cache — proving the helper discriminates and the
    fused query's shape is the persist, not an artifact of the
    upstream labeled-tokens cache. (Cache state matters: Spark's
    CacheManager substitutes any matching persisted subtree into
    later plans, so both halves clear the cache first.)"""
    from kafka_streams_reorder_timestamp_spark.operators.classifier import (
        quality_classifier_confusion,
        quality_eval_report,
    )
    from kafka_streams_reorder_timestamp_spark import plans

    spark.catalog.clearCache()
    standalone = quality_classifier_confusion(spark, str(sf_dir))
    assert plans.nodes_outside_cache(
        standalone, "BroadcastHashJoin [bucket"
    ), "discriminator broken: standalone rollup shows no uncached join"

    spark.catalog.clearCache()
    df = quality_eval_report(spark, str(sf_dir))
    plan = plans.physical_plan(df, "simple")
    assert "Union" in plan, plan
    assert plans.nodes_outside_cache(df, "Scan parquet") == [], plan
    assert plans.nodes_outside_cache(df, "BroadcastHashJoin [bucket") == [], (
        "a rollup branch re-runs the scoring join outside the scores "
        "cache:\n" + plan
    )
    # all three rollup sections present in one plan: two source-keyed
    # aggs (confusion, auc-histogram), one bin-keyed (calibration)
    keys = plans.exchange_partition_keys(df)
    assert any("source" in k for k in keys), keys
    spark.catalog.clearCache()


def test_selection_approx_no_window(spark, sf_dir):
    """The approx selection path must be sketch-shaped: percentile via
    a mergeable aggregate (ObjectHashAggregate), cutoffs broadcast
    back — NO Window, no per-document rank, no single-partition funnel
    of raw rows. This is the production shape for near-unique-logit
    corpora; the exact histogram path keeps the Window and serves as
    its oracle twin."""
    from kafka_streams_reorder_timestamp_spark.operators.classifier import (
        quality_selection_approx,
    )
    from kafka_streams_reorder_timestamp_spark import plans

    spark.catalog.clearCache()
    df = quality_selection_approx(spark, str(sf_dir))
    plan = plans.physical_plan(df, "simple")
    assert "Window" not in plan, plan
    assert "ObjectHashAggregate" in plan, plan
    assert "BroadcastHashJoin [source" in plan, plan
    assert plans.single_partition_scan_funnels(df) == []
    spark.catalog.clearCache()


def test_plan_indent_codegen_sibling_not_excused():
    """A '*(n) '-prefixed (whole-stage-codegen) node printed as a
    SAME-depth sibling after an InMemoryTableScan must read at that
    same depth: lstrip-ing '*' with the tree connectors counted the
    codegen marker as extra depth, which would place a re-executed
    scan beneath the cache (round-10 ADVICE fix)."""
    from kafka_streams_reorder_timestamp_spark.plans import _plan_indent

    lines = [
        "Union",
        ":- InMemoryTableScan [x#1]",
        ":     +- Scan parquet cached_side",
        "+- *(1) Scan parquet uncached_side",
    ]
    # the codegen sibling sits at the SAME depth as the cache node
    assert _plan_indent(lines[3]) == _plan_indent(lines[1])
