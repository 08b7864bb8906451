"""Plan-inspection utilities: assert the physical plan Catalyst picked
is the plan the engine wants (pushdown reached the scan, small dims
broadcast, the hot path stays in whole-stage codegen).

The reference has no optimizer to inspect (SURVEY §4.1); these helpers
exist because this engine DELEGATES optimization to Catalyst, so its
perf contract is "the right plan shape", not hand-written execution.
Tests pin the shape; at 100 TB the same assertions hold because they
are scale-free properties of the plan, not timings.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan (what `.explain(mode)` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def executed_plan(df: DataFrame) -> str:
    """Run the plan and return the FINAL adaptive plan. AQE only fixes
    join strategies, coalescing, and codegen annotation at runtime, so
    codegen/final-shape checks need this, not the static explain.

    Executes via `collect()` on THIS DataFrame's query execution (a
    noop write would finalize a separate execution and leave this plan
    static) — audit small/aggregated frames, not full tables."""
    df.collect()
    return physical_plan(df, "simple")


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (PushedFilters: [...])."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", physical_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> set[str]:
    """Columns each scan actually reads (union over scans) — the
    column-pruning check: a 2-column projection must not read 16."""
    cols: set[str] = set()
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", physical_plan(df)):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.add(name)
    return cols


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastHashJoin", physical_plan(df)))


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (AQE may later coalesce
    partitions, but each Exchange is still a full data movement).
    Counted on the simple-mode plan, where the Exchange node and its
    partitioning print on one line."""
    return len(
        re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
            physical_plan(df, "simple"),
        )
    )


def exchange_partition_keys(df: DataFrame) -> list[list[str]]:
    """The partitioning key column names of every shuffle Exchange in
    the plan (one list per exchange; `#id` suffixes, sort directions
    and the numPartitions literal stripped). Lets a test pin shuffles
    BY GRANULARITY — e.g. "exactly N exchanges keyed on doc_id" —
    instead of a total-count ceiling that quietly absorbs a lost
    broadcast (a 2048-row scalar exchange and a corpus-wide one both
    count 1 in shuffle_count)."""
    plan = physical_plan(df, "simple")
    out: list[list[str]] = []
    for m in re.finditer(
        r"Exchange (?:hash|range)partitioning\(", plan
    ):
        # scan to the matching close paren (keys may nest parens)
        i, depth = m.end(), 1
        while i < len(plan) and depth:
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        body = plan[m.end(): i - 1]
        keys: list[str] = []
        for tok in _split_top_level(body):
            # Resolve each key to the ATTRIBUTE NAMES it references
            # (every `name#id` in the expression), not the outer
            # function name — `cast(doc_id#5L as bigint)` must read as
            # a doc_id-keyed exchange or granularity pins would miss a
            # corpus shuffle hiding under a derived key. Attribute
            # names themselves may contain parens (auto-named exprs
            # like `count(1)#200L` / `FLOOR(x)#12L`), so match an
            # identifier with an optional parenthesized tail, then
            # also surface the identifiers INSIDE that tail — an
            # exchange must never come back keyless just because its
            # key was an unaliased expression. Literal-only tokens
            # (the numPartitions int) reference nothing and drop out.
            for name in re.findall(
                r"([A-Za-z_]\w*(?:\([^()]*\))?)#\d+", tok
            ):
                keys.append(name)
                if "(" in name:
                    keys.extend(
                        n
                        for n in re.findall(r"[A-Za-z_]\w*", name)[1:]
                    )
        out.append(keys)
    return out


def _split_top_level(s: str) -> list[str]:
    """Split a comma-separated expression list, ignoring commas inside
    nested parentheses."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            continue
        depth += {"(": 1, ")": -1}.get(ch, 0)
        cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def _plan_indent(s: str) -> int:
    """Tree depth of a physical-plan line, in characters of connector
    prefix. The whole-stage-codegen "*(n) " marker is dropped BEFORE
    measuring: it sits between the tree connectors and the node name,
    so lstrip-ing "*" together with the connectors would count it as
    extra depth and a codegen'd same-depth sibling (e.g. after an
    InMemoryTableScan) would wrongly classify as a child."""
    s = re.sub(r"\*\(\d+\) ", "", s)
    return len(s) - len(s.lstrip(" +-:"))


def single_partition_scan_funnels(df: DataFrame) -> list[str]:
    """Detect the global-sort scale killer: an `Exchange SinglePartition`
    whose subtree reaches a file Scan WITHOUT passing through an
    aggregate. That shape funnels raw table data through one task (a
    bare Window.orderBy / global sort-without-limit); a single-partition
    exchange above a (partial) aggregate is fine — its input is already
    group-cardinality, not row-cardinality.

    Returns the offending `Exchange SinglePartition` subtree snippets
    (empty list = clean plan)."""
    lines = physical_plan(df, "simple").splitlines()
    indent = _plan_indent

    bad: list[str] = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        base = indent(ln)
        subtree = []
        for nxt in lines[i + 1:]:
            if nxt.strip() and indent(nxt) <= base:
                break
            subtree.append(nxt)
        agg_seen = False
        for s in subtree:
            if "Aggregate" in s:  # HashAggregate / SortAggregate /
                agg_seen = True  # ObjectHashAggregate partial
            if "Scan" in s and not agg_seen:
                bad.append("\n".join([ln] + subtree))
                break
    return bad


def wholestage_codegen_ids(df: DataFrame) -> int:
    """How many WholeStageCodegen spans cover the plan (0 means the hot
    path fell out of codegen entirely — a red flag for scan-heavy ops).
    Executes the plan (noop sink): AQE annotates codegen only in the
    final plan."""
    return len(set(re.findall(r"\*\((\d+)\)", executed_plan(df))))


def assert_plan(
    df: DataFrame,
    max_shuffles: int | None = None,
    min_broadcast_joins: int | None = None,
    require_pushed_filter: str | None = None,
    max_read_columns: int | None = None,
) -> None:
    """One-call plan-shape gate used by tests and ad-hoc audits."""
    plan = physical_plan(df)
    if max_shuffles is not None:
        n = shuffle_count(df)
        assert n <= max_shuffles, f"{n} shuffles > {max_shuffles}\n{plan}"
    if min_broadcast_joins is not None:
        n = broadcast_join_count(df)
        assert n >= min_broadcast_joins, f"{n} broadcast joins < {min_broadcast_joins}\n{plan}"
    if require_pushed_filter is not None:
        pf = pushed_filters(df)
        assert any(require_pushed_filter in f for f in pf), (
            f"no pushed filter matching {require_pushed_filter!r} in {pf}\n{plan}"
        )
    if max_read_columns is not None:
        cols = read_schema_columns(df)
        assert len(cols) <= max_read_columns, (
            f"scans read {len(cols)} columns {sorted(cols)} > {max_read_columns}\n{plan}"
        )


def nodes_outside_cache(df: DataFrame, needle: str) -> list[str]:
    """Plan lines containing ``needle`` that are NOT beneath an
    InMemoryTableScan ancestor in the plan tree — i.e. work a branch
    would execute directly instead of reading from a cache.

    The pin for fused multi-rollup plans (quality_eval_report): with
    the scored frame persisted, every rollup branch's path to the
    expensive subplan (the raw scan, the bucket-keyed scoring join)
    passes through the cache, so this returns []. If the persist is
    dropped, each rollup re-runs the subplan and its nodes show up
    here. Note explain() PRINTS a cached subtree under every
    InMemoryTableScan that references it — counting node occurrences
    is meaningless; ancestry is the invariant. (A query whose only
    cache is the upstream labeled-tokens persist still shows its
    scoring join outside any cache — which is exactly how this
    distinguishes the fused report from a standalone rollup.)

    Implementation (r14): walks the physical-plan TREE via the JVM
    objects instead of parsing explain() text. A text walk over
    indents breaks on nested EXECUTED caches: an
    InMemoryRelation whose cachedPlan is `AdaptiveSparkPlan
    isFinalPlan=true` (now produced by the classifier's eager tiny-
    table materialization) prints its `== Final/Initial Plan ==`
    sections at indents tied to an outer ancestor — Spark interleaves
    them across sibling relations — so cached FileScans popped the
    indent-ancestry stack and were mis-flagged. The tree walk stops at
    InMemoryTableScanExec (everything beneath reads from the cache),
    descends AdaptiveSparkPlanExec via executedPlan(), and follows
    expression subqueries (broadcast/scalar) via QueryPlan.subqueries."""
    out: list[str] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls.startswith("InMemoryTableScan"):
            return
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        else:
            line = node.simpleString(100)
            if needle in line:
                out.append(line)
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i))
        sq = node.subqueries()
        for i in range(sq.size()):
            walk(sq.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out

