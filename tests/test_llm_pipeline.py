"""Tests for the LLM-data-pipeline operators that the DuckDB oracle
can't express: MinHash+LSH near-dup, LSH ANN recall, multimodal
feature plumbing. (The SQL-expressible text/dedup/similarity queries
are covered by test_oracle_parity.py automatically.)"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from kafka_streams_reorder_timestamp_spark.operators.dedup import (
    dedup_jaccard_shingles,
    dedup_minhash_lsh,
    exact_dedup,
    minhash_lsh_pairs,
    shingle_jaccard_pairs,
)
from kafka_streams_reorder_timestamp_spark.operators.multimodal import (
    decode_media,
    extract_features,
    sample_frames,
    synthesize_media,
)
from kafka_streams_reorder_timestamp_spark.operators.similarity import (
    ann_lsh_topk,
    knn_brute_force,
)
from kafka_streams_reorder_timestamp_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# MinHash + LSH


def test_minhash_lsh_finds_planted_near_dups(spark):
    """Planted pairs (same text minus last word) must be detected;
    unrelated docs must not pair up at threshold 0.7."""
    base = [
        (i, " ".join(f"tok{i}_{j}" for j in range(30))) for i in range(10)
    ]  # 10 mutually-disjoint docs
    near = [(100 + i, " ".join(f"tok{i}_{j}" for j in range(29))) for i in range(10)]
    df = spark.createDataFrame(base + near, ["doc_id", "text"])
    pairs = minhash_lsh_pairs(df, "text", "doc_id", threshold=0.7).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert got == {(i, 100 + i) for i in range(10)}
    for r in pairs:
        # true shingle jaccard of 28 shared / 30 union (3-shingles: 26/28+2)
        assert r.jaccard > 0.85


def test_lsh_short_doc_branch_oracle_parity(spark):
    """The <3-token shingle branch (one fallback hash = the rolling
    h*_C1 + c[j] recurrence over ALL tokens as a single window, round
    12: order-SENSITIVE) must produce the SAME 32-bit shingle in
    Python/Arrow and in the DuckDB oracle machinery — the production
    corpora never exercise it (min doc length 10 tokens), so this
    fixture pins the branch directly with 1- and 2-token documents,
    plus an end-to-end check that identical short docs pair up through
    the full LSH path."""
    import duckdb

    from kafka_streams_reorder_timestamp_spark.functions.texthash import (
        _shingle_hash_set,
    )
    from kafka_streams_reorder_timestamp_spark.operators import dedup

    docs = [
        (1, "alpha"),  # 1 token -> short branch
        (2, "alpha beta"),  # 2 tokens -> short branch
        (3, "alpha beta"),  # identical short doc -> planted pair
        (4, "alpha beta gamma delta epsilon"),  # >=3 tokens -> rolling branch
    ]
    values = ", ".join(
        "({}, [{}])".format(i, ", ".join(f"'{w}'" for w in t.split()))
        for i, t in docs
    )
    sig_cols, band_structs = dedup._lsh_sql_blocks(128, 16)
    sql = (
        f"WITH corpus AS (SELECT doc_id, t FROM (VALUES {values}) "
        "AS v(doc_id, t)), "
        + dedup._LSH_MACHINERY_SQL.format(
            sig_cols=sig_cols, band_structs=band_structs
        )
        + " SELECT doc_id, list_sort(list(h)) AS hs FROM dset"
        " GROUP BY doc_id ORDER BY doc_id"
    )
    got = {int(r[0]): [int(x) for x in r[1]] for r in duckdb.sql(sql).fetchall()}
    for i, t in docs:
        exp = [int(x) for x in _shingle_hash_set(t, 3)]
        assert got[i] == exp, f"doc {i}: oracle {got[i]} vs python {exp}"

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = minhash_lsh_pairs(df, "text", "doc_id", threshold=0.7).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {(2, 3)}


def test_minhash_registry_query_detects_planted(spark, sf_dir):
    out = dedup_minhash_lsh(spark, sf_dir)
    rows = out.collect()
    planted = {(r.doc_a, r.doc_b) for r in rows if r.doc_b >= 1_000_000_000}
    # every planted perturbation (drop last 2 words) is a near-dup of its
    # source at 3-shingle jaccard >= ~0.9
    assert {(i, 1_000_000_000 + i) for i in range(20)} <= planted


def test_lsh_recall_precision_vs_exact_twin(spark, oracle_sf_dir):
    """The LSH query's approximation error, measured against its exact
    oracle twin (same planted corpus, same shingle definition, same 0.7
    threshold): recall and precision both >= 0.95. The twin is itself
    hash-checked against DuckDB by test_oracle_parity, so this closes
    the loop LSH -> exact twin -> oracle."""
    lsh = {
        (r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, oracle_sf_dir).collect()
    }
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup_jaccard_shingles(spark, oracle_sf_dir).collect()
    }
    assert exact, "exact twin found no pairs — vacuous recall"
    recall = len(lsh & exact) / len(exact)
    precision = len(lsh & exact) / len(lsh) if lsh else 0.0
    assert recall >= 0.95, f"LSH recall {recall:.3f} < 0.95 ({len(exact)} true pairs)"
    assert precision >= 0.95, f"LSH precision {precision:.3f} < 0.95"


def test_shingle_jaccard_prefix_filter_is_lossless(spark):
    """Prefix-filtered AllPairs must find every pair an unfiltered
    brute-force check finds — planted near-dups (drop last word) and
    nothing else at threshold 0.7."""
    base = [(i, " ".join(f"w{i}_{j}" for j in range(30))) for i in range(8)]
    near = [(100 + i, " ".join(f"w{i}_{j}" for j in range(29))) for i in range(8)]
    df = spark.createDataFrame(base + near, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in shingle_jaccard_pairs(df, "text", "doc_id", threshold=0.7).collect()
    }
    assert set(got) == {(i, 100 + i) for i in range(8)}
    # 28 shingles in the base doc, 27 in the truncated one, 27 shared
    for j in got.values():
        assert j == pytest.approx(27 / 28, abs=1e-4)


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        ["doc_id", "text"],
    )
    out = exact_dedup(df, "text", "doc_id").orderBy("doc_id").collect()
    assert [(r.doc_id, r.group_size) for r in out] == [(1, 2), (3, 1)]


def test_cluster_size_histogram_savings_math(spark, tmp_path, sf_dir):
    """Synthetic corpus with known duplicate structure (the sf0.01
    table has no exact dups, so the oracle check alone never exercises
    cluster_size > 1): 3 copies of A (5 chars), 2 of B (7), 1 of C,
    plus a cluster whose copies differ in RAW length ("x y" vs
    "X  Y" — identical after normalization) — chars_saved must count
    the REMOVED copies' actual bytes (sum - min-doc_id survivor),
    which a (size-1)*min(n_chars) shortcut gets wrong (3, not 4)."""
    from kafka_streams_reorder_timestamp_spark.operators.dedup import (
        dedup_cluster_size_histogram,
    )

    rows = (
        [(i, "aaaaa", "s", "en") for i in range(3)]
        + [(10 + i, "bbbb bb", "s", "en") for i in range(2)]
        + [(20, "c diff", "s", "en")]
        + [(30, "x y", "s", "en"), (31, "X  Y", "s", "en")]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    ).withColumn("n_chars", F.length("text"))
    out = tmp_path / "documents.parquet"
    df.write.parquet(str(out))
    got = {
        r["cluster_size"]: (
            r["n_clusters"],
            r["n_docs"],
            r["dup_docs_removed"],
            r["chars_saved"],
        )
        for r in dedup_cluster_size_histogram(spark, str(tmp_path)).collect()
    }
    assert got == {
        3: (1, 3, 2, 10),  # 2 dup copies of the 5-char text
        # B cluster saves 7; the x/y cluster saves the REMOVED doc 31's
        # 4 raw chars (survivor doc 30 has 3) -> 11 total at size 2
        2: (2, 4, 2, 11),
        1: (1, 1, 0, 0),
    }


# ---------------------------------------------------------------------------
# ANN


def _perturb(vec, eps=0.01, seed=7):
    rng = np.random.RandomState(seed)
    v = np.array(vec) + eps * rng.standard_normal(len(vec))
    return [float(x) for x in v]


def test_ann_lsh_recalls_planted_neighbor(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    base = {r.vec_id: r.emb for r in e.filter(F.col("vec_id") < 3).collect()}
    # plant a ~0.999-cosine twin of each probe into the corpus
    twins = [(10_000 + pid, _perturb(v, seed=pid)) for pid, v in base.items()]
    corpus = e.unionByName(spark.createDataFrame(twins, ["vec_id", "emb"]))
    probes = spark.createDataFrame(
        [(pid, v) for pid, v in base.items()], ["probe_id", "probe_emb"]
    )
    got = ann_lsh_topk(corpus, probes, k=10).collect()
    by_probe = {}
    for r in got:
        by_probe.setdefault(r.probe_id, []).append(r)
    for pid in base:
        neigh = by_probe[pid]
        ids = [r.neighbor_id for r in sorted(neigh, key=lambda r: r.rank)]
        # the planted twin hashes to the probe's bucket w.h.p. and must
        # rank first
        assert ids[0] == 10_000 + pid
        assert neigh[0].cos_sim is not None


def test_ann_results_subset_of_brute_force_corpus(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    probes = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("probe_emb")
    )
    ann = ann_lsh_topk(e, probes, k=10)
    exact = knn_brute_force(e, probes, k=10)
    ann_rows = ann.collect()
    # sanity: every ANN hit is a valid corpus row with correct cosine
    exact_cos = {
        (r.probe_id, r.neighbor_id): r.cos_sim for r in exact.collect()
    }
    for r in ann_rows:
        assert r.neighbor_id != r.probe_id
        if (r.probe_id, r.neighbor_id) in exact_cos:
            assert math.isclose(
                r.cos_sim, exact_cos[(r.probe_id, r.neighbor_id)], abs_tol=1e-6
            )


# ---------------------------------------------------------------------------
# Multimodal


def test_media_features_match_python(spark):
    texts = [(0, "abcd" * 10), (1, "zzzz"), (2, None)]
    docs = spark.createDataFrame(texts, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    )
    feats = extract_features(synthesize_media(docs)).orderBy("media_id").collect()
    assert len(feats) == 2  # null text filtered
    for r in feats:
        raw = dict(texts)[r.media_id].encode()
        arr = np.frombuffer(raw, dtype=np.uint8)
        assert r.n_bytes == len(raw)
        assert math.isclose(r.mean_byte, float(arr.mean()), rel_tol=1e-9)
        hist = np.bincount(arr >> 4, minlength=16)
        assert r.histogram == hist.tolist()
        p = hist[hist > 0] / arr.size
        assert math.isclose(r.byte_entropy, float(-(p * np.log2(p)).sum()), abs_tol=1e-9)


def test_decode_media_stub_contract(spark):
    docs = spark.createDataFrame([(0, "hello")], ["doc_id", "text"])
    media = synthesize_media(docs)
    out = decode_media(media).collect()
    assert out[0].samples == [104, 101, 108, 108, 111]

    real = media.withColumn("mime", F.lit("image/jpeg"))
    with pytest.raises(Exception, match="no codec"):
        decode_media(real).collect()


def test_sample_frames_slices_payload(spark):
    docs = spark.createDataFrame([(0, "x" * 300)], ["doc_id", "text"])
    media = synthesize_media(docs)
    frames = sample_frames(media, frame_bytes=64, stride=2).collect()
    # 300 bytes → 4 full frames (0..3), stride 2 keeps frames 0 and 2
    assert [r.frame_no for r in frames] == [0, 2]
    assert all(len(r.frame) == 64 for r in frames)


def test_ann_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """With nprobe = number of partitions, IVF must return exactly the
    brute-force answer (graceful degradation contract)."""
    from kafka_streams_reorder_timestamp_spark.operators.similarity import (
        ann_ivf_topk,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    n_parts = e.select("label").distinct().count()
    probes = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("probe_emb")
    )
    ivf = ann_ivf_topk(e, probes, k=5, nprobe=n_parts)
    brute = knn_brute_force(e.select("vec_id", "emb"), probes, k=5)
    a = sorted(map(tuple, ivf.collect()))
    b = sorted(map(tuple, brute.collect()))
    assert a == b


def test_ann_ivf_partial_probe_subset(spark, sf_dir):
    """With nprobe < partitions, every result is a valid corpus row from
    a selected partition and ranks are contiguous from 1."""
    from kafka_streams_reorder_timestamp_spark.operators.similarity import (
        ann_ivf_query,
    )

    got = ann_ivf_query(spark, sf_dir).toPandas()
    assert set(got.probe_id) == set(range(5))
    for pid, grp in got.groupby("probe_id"):
        assert list(grp.sort_values("rank")["rank"]) == list(range(1, len(grp) + 1))


def test_approx_sketches_within_bounds(spark, oracle_sf_dir):
    """HLL distinct within 3*rsd of exact; quantile sketch within the
    accuracy implied by its 10k resolution (±1/10000 rank error)."""
    from kafka_streams_reorder_timestamp_spark.operators.events_queries import (
        events_approx_sketches,
    )
    from kafka_streams_reorder_timestamp_spark.sources import load_table

    got = {
        r["event_type"]: r
        for r in events_approx_sketches(spark, oracle_sf_dir).collect()
    }
    ev = load_table(spark, oracle_sf_dir, "events")
    from pyspark.sql import functions as F

    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, array(0.5, 0.95, 0.99))").alias("qs"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for etype, row in got.items():
        ex = exact[etype]
        assert abs(row["approx_users"] - ex["users"]) <= max(3, 0.03 * ex["users"])
        n = row["n_events"]
        approx_qs = (row["p50"], row["p95"], row["p99"])
        for approx_q, exact_q in zip(approx_qs, ex["qs"]):
            # rank error 1/10000 of n translates to a value tolerance we
            # bound loosely via the value range per type
            assert approx_q == pytest.approx(exact_q, rel=0.05, abs=2.0)


def test_pq_adc_finds_true_neighbors(spark, sf_dir):
    """PQ/ADC top-10 overlaps the exact cosine top-10 for every probe:
    the coarse 16-centroid codebook (and L2-vs-cosine metric gap)
    costs recall, but each probe must still recover true neighbors,
    and the overlap is deterministic — every distance/argmin in the
    PQ pipeline is exact double arithmetic with fixed fold order."""
    from collections import defaultdict

    from kafka_streams_reorder_timestamp_spark.operators import registry

    pq = registry.REGISTRY["ann_pq_adc_topk"].builder(spark, sf_dir).collect()
    knn = registry.REGISTRY["knn_topk_cosine"].builder(spark, sf_dir).collect()
    p_n, k_n = defaultdict(set), defaultdict(set)
    for r in pq:
        p_n[r.probe_id].add(r.neighbor_id)
    for r in knn:
        k_n[r.probe_id].add(r.neighbor_id)
    assert set(p_n) == set(k_n) and len(k_n) == 5
    overlaps = {pid: len(p_n[pid] & k_n[pid]) for pid in k_n}
    assert all(v >= 1 for v in overlaps.values()), overlaps
    assert sum(overlaps.values()) / len(overlaps) >= 2.0, overlaps


def test_hll_weekly_rollup_within_bounds(spark, sf_dir):
    """Weekly distinct-user estimates from merged daily HLL sketches
    stay within HLL error of the exact weekly distincts — the
    mergeability contract (sketch once daily, derive weekly by union,
    never rescan raw events)."""
    from kafka_streams_reorder_timestamp_spark.operators import registry
    from kafka_streams_reorder_timestamp_spark.sources.catalog import load_table

    got = {
        (r.event_type, r.week_us): r.approx_weekly_users
        for r in registry.REGISTRY["events_weekly_users_hll"]
        .builder(spark, sf_dir)
        .collect()
    }
    exact = {
        (r.event_type, r.week_us): r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("week", "ts").alias("week"))
        .agg(F.countDistinct("user_id").alias("n"))
        .select(
            "event_type", F.unix_micros("week").alias("week_us"), "n"
        )
        .collect()
    }
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(3, 0.05 * exact[k]), (k, est, exact[k])


def test_theta_setops_match_exact_audiences(spark, sf_dir):
    """Theta-sketch union/intersection/difference estimates agree with
    the exact click/purchase audience set sizes within sketch error."""
    from kafka_streams_reorder_timestamp_spark.operators import registry
    from kafka_streams_reorder_timestamp_spark.sources.catalog import load_table

    row = (
        registry.REGISTRY["events_audience_theta_setops"]
        .builder(spark, sf_dir)
        .collect()[0]
    )
    ev = load_table(spark, sf_dir, "events")
    click = {
        r.user_id
        for r in ev.filter(F.col("event_type") == "click")
        .select("user_id").distinct().collect()
    }
    purch = {
        r.user_id
        for r in ev.filter(F.col("event_type") == "purchase")
        .select("user_id").distinct().collect()
    }

    def close(est, exact):
        assert abs(est - exact) <= max(3, 0.05 * exact), (est, exact)

    close(row.click_users, len(click))
    close(row.purchase_users, len(purch))
    close(row.union_users, len(click | purch))
    close(row.both_users, len(click & purch))
    assert abs(row.click_only_users - len(click - purch)) <= max(
        3, 0.05 * max(len(click - purch), 1)
    )


def test_theta_overlap_matrix_matches_exact_twin(spark, sf_dir):
    """audience_overlap_matrix_theta (the 100 TB path) reproduces the
    exact pairwise overlap matrix (event_type_audience_overlap, its
    oracle twin) within sketch error on every (type_a, type_b) cell —
    sizes, intersection, and Jaccard."""
    from kafka_streams_reorder_timestamp_spark.operators import registry

    est = {
        (r.type_a, r.type_b): r
        for r in registry.REGISTRY["audience_overlap_matrix_theta"]
        .builder(spark, sf_dir)
        .collect()
    }
    exact = {
        (r.type_a, r.type_b): r
        for r in registry.REGISTRY["event_type_audience_overlap"]
        .builder(spark, sf_dir)
        .collect()
    }
    # the theta matrix emits EVERY type pair; the exact twin's inner
    # join omits zero-overlap pairs — those matrix cells must estimate
    # (near) zero intersection, all shared cells must agree.
    assert exact and set(exact) <= set(est), "matrix is missing exact cells"

    def close(e, x):
        assert abs(e - x) <= max(3, 0.05 * x), (e, x)

    for k, r in est.items():
        if k not in exact:
            assert r.n_both_est <= 3, (k, r)
            continue
        t = exact[k]
        close(r.n_a_est, t.n_a)
        close(r.n_b_est, t.n_b)
        close(r.n_both_est, t.n_both)
        assert abs(r.jaccard_est - t.jaccard) <= 0.05, (k, r, t)


def test_misra_gries_candidates_contain_heavy_hitters(spark):
    """Bounded-memory guarantee: with vocabulary far above the counter
    capacity, the per-batch Misra-Gries summaries must still surface
    every token whose global frequency exceeds total/capacity — recall
    is provable, precision comes from the exact recount pass."""
    from kafka_streams_reorder_timestamp_spark.operators.text import (
        misra_gries_candidates,
    )

    # 4 heavy tokens (2000 occurrences each) buried in 20000 docs of
    # mostly-unique noise vocabulary; capacity 50 << vocab size. Every
    # 10th doc so each heavy clears the PROVABLE threshold
    # total/capacity (and its per-partition analog) — the assertion
    # then rests on the MG guarantee, not on decrements happening to
    # be rare.
    rows = []
    for i in range(20000):
        toks = [f"noise{i}_{j}" for j in range(3)]
        if i % 10 == 0:
            toks.append("heavy_alpha")
        if i % 10 == 3:
            toks.append("heavy_beta")
        if i % 10 == 5:
            toks.append("heavy_gamma")
        if i % 10 == 8:
            # contains U+00A0: Unicode whitespace for Python str.split()
            # but NOT engine \s+ — one token under the engine rule. A
            # Python-side tokenizer in the candidate pass would fragment
            # it and the heavy hitter would miss the candidate set.
            toks.append("heavy\xa0delta")
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)
    cand = {r.token for r in misra_gries_candidates(df, "text", 50).collect()}
    total = 20000 * 3 + 4 * 2000
    # the MG guarantee: every token above total/capacity MUST survive
    assert 2000 > total / 50  # heavies sit above the provable threshold
    for t in ("heavy_alpha", "heavy_beta", "heavy_gamma", "heavy\xa0delta"):
        assert t in cand, f"{t!r} missing from {len(cand)} candidates"
    # and the summary stayed small relative to the ~60k-token vocabulary
    assert len(cand) <= 50 * 8  # capacity x partitions upper bound


def test_semdedup_planted_pairs_recovered(spark, sf_dir):
    """SemDeDup (centroid-bucketed semantic near-dup): every planted
    perturbed copy (vec_id >= 1e9, cosine ~0.999 to its source) must be
    recovered as a pair despite the bucketing — the top-2 multi-probe
    assignment is what makes Voronoi-boundary pairs findable — and no
    unrelated pair (random cosines ~0) may cross the 0.95 threshold."""
    from kafka_streams_reorder_timestamp_spark.operators.registry import (
        REGISTRY,
    )

    pdf = REGISTRY["semdedup_pairs"].builder(spark, sf_dir).toPandas()
    planted = {(i, i + 1_000_000_000) for i in range(20)}
    got = set(zip(pdf.vec_a, pdf.vec_b))
    recall = len(got & planted) / len(planted)
    assert recall >= 0.95, f"planted-pair recall {recall:.2f} < 0.95"
    assert not (got - planted), f"false positives: {sorted(got - planted)[:5]}"
    assert (pdf.cos_sim >= 0.95).all()


def test_semdedup_salted_grid_identical_to_unsalted(spark, sf_dir):
    """The r14 bucket-size guard (triangle-grid salting of oversized
    centroid buckets, mirroring blocked_jaccard_pairs) must be
    result-invariant: forcing every bucket over the cap exercises both
    the diagonal (i==j square matmul) and cross (i<j rectangular
    matmul) cells, and the pair set + rounded cosines must equal the
    unsalted path bit-for-bit."""
    from kafka_streams_reorder_timestamp_spark.operators.similarity import (
        semdedup_pairs,
    )

    base = sorted(map(tuple, semdedup_pairs(spark, sf_dir).collect()))
    salted = sorted(
        map(
            tuple,
            semdedup_pairs(
                spark, sf_dir, bucket_cap=16, max_salt=4
            ).collect(),
        )
    )
    assert base == salted


def test_semdedup_clusters_canonical_sources(spark, sf_dir):
    """SemDeDup clusters: every planted copy co-clusters with its
    source, the source (lowest id) is the canonical survivor, and the
    copy is marked droppable."""
    from kafka_streams_reorder_timestamp_spark.operators.registry import (
        REGISTRY,
    )

    rows = REGISTRY["semdedup_clusters"].builder(spark, sf_dir).collect()
    by_id = {r.vec_id: r for r in rows}
    planted = [v for v in by_id if v >= 1_000_000_000]
    assert len(planted) == 20
    for pid in planted:
        src = pid - 1_000_000_000
        assert src in by_id, f"source {src} missing from clusters"
        assert by_id[src].cluster_id == by_id[pid].cluster_id
        assert by_id[src].is_canonical == 1
        assert by_id[pid].is_canonical == 0
        assert by_id[pid].cluster_size >= 2


def test_incremental_lsh_vs_brute_force_shingle_truth(spark, sf_dir):
    """dedup_incremental_lsh (batch-vs-corpus banding) against
    brute-force 3-shingle Jaccard ground truth computed in Python over
    the same split + planting: recall >= 0.95, precision 1.0 (the
    verify stage is exact), and every planted near-miss is caught."""
    import re
    from kafka_streams_reorder_timestamp_spark.operators.dedup import (
        _incremental_split,
    )
    from kafka_streams_reorder_timestamp_spark.operators.registry import (
        REGISTRY,
    )
    from kafka_streams_reorder_timestamp_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    corpus, batch = _incremental_split(d)

    def shingle_sets(rows):
        out = {}
        for r in rows:
            # re.ASCII: match the engine's Java \s+ (ASCII-only) rule —
            # Python's default \s also splits on Unicode spaces like
            # \xa0, which would fork truth from the engine tokenizer.
            toks = [
                t
                for t in re.split(r"\s+", r.text.strip().lower(), flags=re.ASCII)
                if t
            ]
            if len(toks) >= 3:
                sh = {
                    " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
                }
            else:
                sh = {" ".join(toks)} if toks else set()
            out[r.doc_id] = sh
        return out

    c_sets = shingle_sets(corpus.select("doc_id", "text").collect())
    b_sets = shingle_sets(batch.select("doc_id", "text").collect())
    truth = set()
    for bid, bs in b_sets.items():
        if not bs:
            continue
        for cid, cs in c_sets.items():
            if not cs:
                continue
            inter = len(bs & cs)
            if inter and inter / (len(bs) + len(cs) - inter) >= 0.7:
                truth.add((bid, cid))
    planted_truth = {p for p in truth if p[0] >= 4_000_000_000}
    assert len(planted_truth) >= 10, "planting failed to create near-misses"

    got = {
        (r.batch_doc, r.corpus_doc)
        for r in REGISTRY["dedup_incremental_lsh"].builder(spark, sf_dir).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"recall {recall:.3f} < 0.95 ({len(truth)} true)"
    assert got <= truth, f"false positives: {sorted(got - truth)[:5]}"
    assert planted_truth <= got, "a planted near-miss was missed"


def test_fingerprint_split_has_zero_leaks(spark, sf_dir):
    """Detector/fix pair: on the planted-copy corpus the id-keyed
    split provably leaks (split_leakage_audit returns rows), while the
    fingerprint-keyed split co-locates every verbatim copy — zero
    fingerprints span more than one split."""
    from kafka_streams_reorder_timestamp_spark.functions.texthash import (
        normalize_text,
    )
    from kafka_streams_reorder_timestamp_spark.operators.registry import (
        REGISTRY,
    )
    from kafka_streams_reorder_timestamp_spark.sources.catalog import load_table

    audit = REGISTRY["split_leakage_audit"].builder(spark, sf_dir)
    assert audit.count() > 0, "id-keyed split should leak on planted corpus"

    base = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    planted = base.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + F.lit(3_000_000_000)).alias("doc_id"), "text"
    )
    corpus = base.unionByName(planted)
    fingerprint = F.md5(normalize_text(F.col("text")))
    bucket = F.substring(F.md5(fingerprint), 1, 2)
    split = (
        F.when(bucket < "cd", "train").when(bucket < "e6", "val").otherwise("test")
    )
    leaks = (
        corpus.select(fingerprint.alias("f"), split.alias("s"))
        .groupBy("f")
        .agg(F.count_distinct("s").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    assert leaks == 0


def test_unigram_logprob_floor_and_ordering(spark, sf_dir):
    """docs_unigram_logprob: planted all-rare docs (ids +6e9) must
    score EXACTLY the OOV floor ln(0.5/total) — every one of their
    tokens is unique, hence out of the top-K vocabulary — and strictly
    below every real document (real docs draw from the 31-token
    corpus vocabulary, most mass inside the top-K)."""
    import math

    from kafka_streams_reorder_timestamp_spark.operators.registry import (
        REGISTRY,
    )

    pdf = REGISTRY["docs_unigram_logprob"].builder(spark, sf_dir).toPandas()
    planted = pdf[pdf.doc_id >= 6_000_000_000]
    normal = pdf[pdf.doc_id < 6_000_000_000]
    assert len(planted) == 5 and len(normal) > 0
    total = int(pdf.n_tokens.sum())
    floor = round(math.log(0.5 / total), 6)
    assert (planted.avg_logprob == floor).all(), (
        planted.avg_logprob.tolist(),
        floor,
    )
    assert (planted.n_tokens == 16).all()
    assert planted.avg_logprob.max() < normal.avg_logprob.min()


# ---------------------------------------------------------------------------
# Cross-document duplicate n-gram spans


def test_duplicate_ngram_spans_planted_passage(spark):
    """Two docs sharing a 12-token passage mid-document must each report
    one duplicated run of 12-8+1=5 windows covering 12 tokens; a doc
    with no shared 8-gram must not appear."""
    from kafka_streams_reorder_timestamp_spark.operators.dedup import (
        duplicate_ngram_spans,
    )

    shared = " ".join(f"shared{i}" for i in range(12))
    docs = [
        (1, "alpha beta gamma " + shared + " delta epsilon zeta"),
        (2, "one two three four five " + shared + " six seven"),
        (3, " ".join(f"unique{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r["doc_id"]: r.asDict()
        for r in duplicate_ngram_spans(df, n=8).collect()
    }
    assert set(out) == {1, 2}
    for doc_id in (1, 2):
        r = out[doc_id]
        assert r["n_dup_runs"] == 1
        assert r["n_dup_windows"] == 5  # 12-token run -> 5 8-gram windows
        assert r["max_run_tokens"] == 12
    # n_windows = len(tokens) - 7
    assert out[1]["n_windows"] == len(docs[0][1].split()) - 7


# ---------------------------------------------------------------------------
# Asymmetric shingle containment


def test_shingle_containment_asymmetric(spark):
    """A doc fully embedded in a 3x larger host must be flagged as
    contained (C=1.0) in that direction ONLY — the case symmetric
    Jaccard at the same threshold cannot see (J ~ 1/3 here)."""
    from kafka_streams_reorder_timestamp_spark.operators.dedup import (
        shingle_containment_pairs,
    )

    small = " ".join(f"core{i}" for i in range(30))
    host = small + " " + " ".join(f"extra{i}" for i in range(60))
    other = " ".join(f"noise{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, small), (2, host), (3, other)], ["doc_id", "text"]
    )
    rows = {
        (r["doc_contained"], r["doc_container"]): r["containment"]
        for r in shingle_containment_pairs(
            df, "text", "doc_id", threshold=0.9
        ).collect()
    }
    assert set(rows) == {(1, 2)}
    assert rows[(1, 2)] == 1.0


# ---------------------------------------------------------------------------
# PCA projection


def test_pca_projection_matches_numpy(spark, sf_dir):
    """The distributed moment-pass PCA must match numpy's full PCA on
    the same data: identical projections (up to output rounding),
    descending explained variance, orthonormal components."""
    from kafka_streams_reorder_timestamp_spark.operators.similarity import (
        DIM,
        embedding_pca_project,
        pca_fit,
    )

    e = load_table(spark, sf_dir, "embeddings")
    X = np.asarray(
        [np.asarray(r["embedding"], dtype=np.float64) for r in e.collect()]
    )
    comps, mean, ev = pca_fit(
        e.select("vec_id", e["embedding"].cast("array<double>").alias("emb")),
        "emb",
        k=4,
        dim=DIM,
    )
    # components: orthonormal, variance descending
    assert np.allclose(comps @ comps.T, np.eye(4), atol=1e-8)
    assert ev[0] >= ev[1] >= ev[2] >= ev[3] > 0
    # numpy ground truth (same sign canonicalization)
    Xc = X - X.mean(axis=0)
    evals, evecs = np.linalg.eigh(np.cov(Xc.T, bias=True))
    order = np.argsort(evals)[::-1][:4]
    ref = evecs[:, order].T
    for r in range(4):
        j = int(np.argmax(np.abs(ref[r])))
        if ref[r, j] < 0:
            ref[r] = -ref[r]
    assert np.allclose(np.abs(comps), np.abs(ref), atol=1e-6)
    assert np.allclose(ev[:4], evals[order], rtol=1e-8)
    # registered projection equals numpy projection (rounded to 4 dp)
    out = (
        embedding_pca_project(spark, str(sf_dir))
        .orderBy("vec_id")
        .toPandas()
    )
    want = (X - X.mean(axis=0)) @ ref.T
    got = out[["pc1", "pc2", "pc3", "pc4"]].to_numpy()
    assert np.allclose(got, want, atol=2e-4)


def test_pca_moments_twin_reconstructs_fit_covariance(spark, sf_dir):
    """embedding_pca_moments (the DuckDB-hash-checked exact twin of the
    fit stage) must reconstruct pca_fit's covariance within the
    micro-unit quantization bound — closing the loop moments -> oracle
    while the eigensolve stays pinned by
    test_pca_projection_matches_numpy. Quantization error per
    component is <= 0.5e-6, so covariance entries agree to ~1e-6."""
    from kafka_streams_reorder_timestamp_spark.operators.similarity import (
        DIM,
        embedding_pca_moments,
    )

    rows = embedding_pca_moments(spark, str(sf_dir)).collect()
    mom = {(r["dim_i"], r["dim_j"]): int(r["moment"]) for r in rows}
    assert len(mom) == 1 + DIM + DIM * (DIM + 1) // 2
    n = mom[(0, 0)]
    s = np.array([mom[(i, 0)] for i in range(1, DIM + 1)], dtype=np.float64)
    G = np.zeros((DIM, DIM))
    for i in range(1, DIM + 1):
        for j in range(i, DIM + 1):
            G[i - 1, j - 1] = G[j - 1, i - 1] = mom[(i, j)]
    mean_q = s / n / 1e6
    cov_q = G / n / 1e12 - np.outer(mean_q, mean_q)

    e = load_table(spark, sf_dir, "embeddings")
    X = np.asarray(
        [np.asarray(r["embedding"], dtype=np.float64) for r in e.collect()]
    )
    assert n == len(X)
    cov = np.cov((X - X.mean(axis=0)).T, bias=True)
    assert np.allclose(mean_q, X.mean(axis=0), atol=1e-6)
    assert np.allclose(cov_q, cov, atol=1e-6)


# ---------------------------------------------------------------------------
# BPE merge learning


def _reference_bpe(word_counts, n_merges):
    """Pure-Python Sennrich BPE: argmax pair by (count desc, pair asc),
    merge left-to-right non-overlapping."""
    vocab = {w: list(w) for w in word_counts}
    merges = []
    for rank in range(1, n_merges + 1):
        counts = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + word_counts[w]
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, c))
        for w, syms in vocab.items():
            s, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    s.append(a + b)
                    i += 2
                else:
                    s.append(syms[i])
                    i += 1
            vocab[w] = s
    return merges


def test_bpe_train_matches_reference(spark, sf_dir):
    """The distributed 8-merge sequence must equal the pure-Python
    reference run on the identical word-frequency vocabulary."""
    from kafka_streams_reorder_timestamp_spark.functions.texthash import tokens
    from kafka_streams_reorder_timestamp_spark.operators.text import (
        bpe_train_merges,
    )

    d = load_table(spark, str(sf_dir), "documents").filter(
        F.col("text").isNotNull()
    )
    wc = {
        r["word"]: r["c"]
        for r in d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    want = _reference_bpe(wc, 8)
    got = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in bpe_train_merges(spark, str(sf_dir))
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == want
    assert len(got) == 8
    # the fully-distributed loop must agree merge-for-merge (run at a
    # shorter horizon: it pays several Spark jobs per round)
    from kafka_streams_reorder_timestamp_spark.operators.text import (
        bpe_learn_merges,
    )

    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcount"))
    )
    assert bpe_learn_merges(words, n_merges=3) == want[:3]


# ---------------------------------------------------------------------------
# Perceptual-hash media near-dup


def test_media_phash_finds_brightness_shifted_copies(spark, sf_dir):
    """Every +1-byte-shifted planted copy must pair with its source at
    Hamming 0 (dHash is invariant to uniform shifts) even though the
    payloads differ in EVERY byte — the case exact hashing can never
    catch."""
    from kafka_streams_reorder_timestamp_spark.operators.multimodal import (
        media_phash_neardup,
    )

    out = media_phash_neardup(spark, str(sf_dir)).toPandas()
    planted = out[
        (out.media_b >= 5_000_000_000)
        & (out.media_a == out.media_b - 5_000_000_000)
    ]
    assert len(planted) == 15
    assert (planted.hamming == 0).all()
    # the perturbation really does change the bytes: no planted pair
    # would survive an exact fingerprint comparison
    d = load_table(spark, str(sf_dir), "documents").filter(
        F.col("doc_id") < 15
    )
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    for doc_id, text in texts.items():
        orig = text.encode()
        bumped = bytes((b + 1) % 256 for b in orig)
        assert orig != bumped


# ---------------------------------------------------------------------------
# Count-Min sketch


def test_cms_bounds_vs_exact_counts(spark, sf_dir):
    """CMS estimates must never undercount and must overshoot by at
    most e/width * N (the standard guarantee; deterministic here given
    fixed seeds) for every probe key."""
    import math

    from kafka_streams_reorder_timestamp_spark.operators.events_queries import (
        CMS_WIDTH,
        events_cms_user_counts,
    )

    ev = load_table(spark, str(sf_dir), "events").filter(
        F.col("user_id").isNotNull()
    )
    exact = {
        r["user_id"]: r["c"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n_total = sum(exact.values())
    eps = math.e / CMS_WIDTH
    out = events_cms_user_counts(spark, str(sf_dir)).collect()
    assert len(out) == min(20, len(exact))
    for r in out:
        true = exact[r["user_id"]]
        assert r["est_count"] >= true
        assert r["est_count"] - true <= eps * n_total


def test_pca_fit_degenerate_constant_vectors(spark):
    """All-identical embeddings: zero covariance must not crash the
    fit; components stay orthonormal and variances are ~0."""
    from kafka_streams_reorder_timestamp_spark.operators.similarity import (
        pca_fit,
    )

    vec = [1.0] * 8
    df = spark.createDataFrame(
        [(i, vec) for i in range(10)], "vec_id long, emb array<double>"
    )
    comps, mean, ev = pca_fit(df, "emb", k=2, dim=8)
    assert np.allclose(mean, vec)
    assert np.allclose(comps @ comps.T, np.eye(2), atol=1e-8)
    assert np.allclose(ev, 0, atol=1e-12)


def test_bpe_tokenize_corpus_matches_direct_tokenizer(spark, sf_dir):
    """Per-source BPE token totals from the vocab-join query must equal
    a DIRECT pure-Python per-document tokenization: learn merges with
    the reference BPE on the same vocabulary, tokenize every document
    word-by-word (no distinct-word shortcut), and compare totals —
    token-for-token, so the broadcast-join application shape is pinned
    against the naive definition."""
    from kafka_streams_reorder_timestamp_spark.functions.texthash import tokens
    from kafka_streams_reorder_timestamp_spark.operators.text import (
        bpe_tokenize_corpus,
    )

    d = load_table(spark, str(sf_dir), "documents").filter(
        F.col("text").isNotNull()
    )
    docs = d.select("source", tokens(F.col("text")).alias("toks")).collect()
    wc: dict[str, int] = {}
    for r in docs:
        for w in r["toks"]:
            wc[w] = wc.get(w, 0) + 1
    merges = _reference_bpe(wc, 8)

    def tokenize(word: str) -> list[str]:
        syms = list(word)
        for _rank, a, b, _c in merges:
            s, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    s.append(a + b)
                    i += 2
                else:
                    s.append(syms[i])
                    i += 1
            syms = s
        return syms

    want: dict[str, list[int]] = {}  # source -> [n_docs, words, bpe]
    for r in docs:
        acc = want.setdefault(r["source"], [0, 0, 0])
        acc[0] += 1
        acc[1] += len(r["toks"])
        acc[2] += sum(len(tokenize(w)) for w in r["toks"])

    got = {
        r["source"]: [r["n_docs"], r["total_words"], r["total_bpe_tokens"]]
        for r in bpe_tokenize_corpus(spark, str(sf_dir)).collect()
    }
    assert got == want
    # BPE must actually compress: fewer tokens than characters, more
    # than words (8 merges cannot reach one-token-per-word)
    for src, (_n, words, bpe) in got.items():
        assert bpe > words, src


def test_bpe_tokenize_corpus_distributed_path_equals_fast_path(
    spark, sf_dir, monkeypatch
):
    """Forcing the driver-vocab ceiling to 0 routes bpe_tokenize_corpus
    (and bpe_train_merges) through the fully-distributed
    bpe_learn_merges loop; results must be row-identical to the bounded
    driver fast path — the guarantee that lets the 100 TB path share
    the small-scale oracle pins."""
    from kafka_streams_reorder_timestamp_spark.operators.text import (
        bpe_tokenize_corpus,
        bpe_train_merges,
    )

    fast_tok = sorted(
        map(tuple, bpe_tokenize_corpus(spark, str(sf_dir)).collect())
    )
    fast_merges = sorted(
        map(tuple, bpe_train_merges(spark, str(sf_dir)).collect())
    )
    spark.catalog.clearCache()
    monkeypatch.setenv("SPARK_GRAFT_BPE_DRIVER_VOCAB_MAX", "0")
    dist_tok = sorted(
        map(tuple, bpe_tokenize_corpus(spark, str(sf_dir)).collect())
    )
    dist_merges = sorted(
        map(tuple, bpe_train_merges(spark, str(sf_dir)).collect())
    )
    assert dist_tok == fast_tok
    assert dist_merges == fast_merges
    spark.catalog.clearCache()


def test_merge_pair_expr_matches_python_rewrite(spark):
    """The codegen fold that rewrites symbol arrays during distributed
    BPE training (_merge_pair_expr) must implement EXACTLY the greedy
    left-to-right non-overlapping rule, including the adversarial
    shapes: runs of the same symbol ([a,a,a] + (a,a) -> [aa,a], never
    re-consuming), a merged symbol equal to the next raw symbol, pairs
    touching array ends, empty and single-symbol arrays, and
    multi-char symbols from earlier merges. One Spark job evaluates
    every case."""
    from kafka_streams_reorder_timestamp_spark.operators.text import (
        _merge_pair_expr,
    )

    cases = [
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["a", "b", "a", "b", "a"], "a", "b"),
        (["b", "a", "b"], "a", "b"),
        (["a"], "a", "a"),
        ([], "a", "b"),
        (["ab", "ab", "c"], "ab", "ab"),
        (["x", "ab", "b"], "ab", "b"),
        (["a", "b", "b"], "a", "b"),
        (["b", "b", "a", "b"], "b", "b"),
    ]
    df = spark.createDataFrame(
        [(i, syms, a, b) for i, (syms, a, b) in enumerate(cases)],
        "i int, syms array<string>, a string, b string",
    )
    # one fold expression per distinct pair, branch-selected by row
    out = {}
    for a, b in {(a, b) for _s, a, b in cases}:
        got = (
            df.filter((F.col("a") == a) & (F.col("b") == b))
            .select("i", _merge_pair_expr(F.col("syms"), a, b).alias("m"))
            .collect()
        )
        for r in got:
            out[r["i"]] = list(r["m"])
    for i, (syms, a, b) in enumerate(cases):
        # python twin: one-merge application on the raw symbol list
        s, j = [], 0
        while j < len(syms):
            if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                s.append(a + b)
                j += 2
            else:
                s.append(syms[j])
                j += 1
        assert out[i] == s, (i, syms, a, b, out[i], s)


def test_bpe_argmax_tie_breaks_lexicographically(spark):
    """Two pairs with identical counts: the lexicographically smaller
    (left, right) pair must win — the documented deterministic
    tie-break."""
    from kafka_streams_reorder_timestamp_spark.operators.text import (
        bpe_merges_local,
    )

    # 'zx' and 'ab' each appear 3 times; (a, b) < (z, x)
    merges = bpe_merges_local({"zx": 3, "ab": 3}, n_merges=1)
    assert merges == [(1, "a", "b", 3)]


def test_hamming_band_pairs_boundary(spark):
    """Pairs at exactly max_hamming are included; one bit beyond is
    excluded."""
    from kafka_streams_reorder_timestamp_spark.operators.simhash import (
        hamming_band_pairs,
    )

    base = 0
    at_budget = (1 << 2) | (1 << 20) | (1 << 40)  # hamming 3
    beyond = at_budget | (1 << 60)  # hamming 4
    sigs = spark.createDataFrame(
        [(1, base), (2, at_budget), (3, beyond)], "_id long, _sig long"
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in hamming_band_pairs(sigs, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 3
    assert (1, 3) not in pairs  # hamming 4 > budget
    assert pairs[(2, 3)] == 1


def test_semantic_decon_flags_planted_copies_only(spark, sf_dir):
    """decontaminate_semantic must flag EXACTLY the planted
    contamination: 8 exact benchmark copies at cos 1.0 and 8
    first-coordinate-perturbed copies strictly below 1.0 but above the
    0.9 threshold — and no organic corpus vector (background cosine
    tops out ~0.5 on this synthetic table)."""
    from kafka_streams_reorder_timestamp_spark.operators.pipeline import (
        decontaminate_semantic,
    )

    rows = decontaminate_semantic(spark, str(sf_dir)).collect()
    flagged = {r["vec_id"]: r for r in rows}
    want_exact = {7_000_000_000 + i for i in range(8)}
    want_pert = {8_000_000_000 + i for i in range(8, 16)}
    assert set(flagged) == want_exact | want_pert
    for v in want_exact:
        assert flagged[v]["cos_sim"] == 1.0
        assert flagged[v]["probe_id"] == v - 7_000_000_000
    for v in want_pert:
        assert 0.9 <= flagged[v]["cos_sim"] < 1.0
        assert flagged[v]["probe_id"] == v - 8_000_000_000


def test_threshold_sweep_reconciles_with_exact_twin(spark, sf_dir):
    """The sweep's cumulative count at the 0.7 band must equal the
    number of pairs dedup_jaccard_shingles reports at threshold 0.7 —
    the integer cross-multiplication banding and the twin's double
    filter must agree on every boundary pair — and the banding must
    partition: cum_pairs at the loosest band equals the sum of all
    bands' n_pairs."""
    from kafka_streams_reorder_timestamp_spark.operators.dedup import (
        dedup_jaccard_shingles,
        dedup_threshold_sweep,
    )

    rows = {
        r["threshold_pct"]: r
        for r in dedup_threshold_sweep(spark, str(sf_dir)).collect()
    }
    n_at_07 = dedup_jaccard_shingles(spark, str(sf_dir)).count()
    cum_at_07 = sum(
        r["n_pairs"] for pct, r in rows.items() if pct >= 70
    )
    assert cum_at_07 == n_at_07
    if 70 in rows:
        assert rows[70]["cum_pairs"] == n_at_07
    total = sum(r["n_pairs"] for r in rows.values())
    loosest = rows[min(rows)]
    assert loosest["cum_pairs"] == total
    for r in rows.values():
        # each pair touches exactly 2 docs; distinct docs never exceed
        assert 2 <= r["n_docs"] <= 2 * r["n_pairs"]


def test_lsh_recall_audit_row_shape_and_floor(spark, sf_dir):
    """The registered audit row must agree with its two parent queries
    (truth/found counts) and clear the same >= 0.95 recall floor the
    pairwise test pins — the audit IS that monitoring, in-engine."""
    from kafka_streams_reorder_timestamp_spark.operators.registry import (
        REGISTRY,
    )

    row = (
        REGISTRY["dedup_lsh_recall_audit"].builder(spark, sf_dir).collect()[0]
    )
    n_true = REGISTRY["dedup_jaccard_shingles"].builder(spark, sf_dir).count()
    n_found = REGISTRY["dedup_minhash_lsh"].builder(spark, sf_dir).count()
    assert row.n_true == n_true and row.n_found == n_found
    assert row.n_hit == row.n_true - row.n_missed
    assert row.n_found == row.n_hit + row.n_extra
    assert row.n_true > 0
    assert row.recall_bp >= 9500, row
    # the LSH verify stage is exact over its hashed universe; extras
    # can only be 32-bit collision artifacts — zero on this corpus
    assert row.n_extra == 0 and row.precision_bp == 10000, row


def test_lsh_recall_audit_sampled_truth_leg(spark, sf_dir):
    """The 100 TB knob: with sample_frac / id_bound the truth leg runs
    on a deterministic doc sample and the production LSH pair set is
    filtered to the same sub-universe, so the audit stays a fair
    recall/precision estimate over fewer pairs. Pins: determinism,
    sub-universe containment (sampled truth <= full truth), identical
    quality on this corpus (every planted pair that survives sampling
    is still found), and that defaults reproduce the registered row."""
    from kafka_streams_reorder_timestamp_spark.operators.dedup import (
        _planted_corpus,
        lsh_recall_audit,
    )
    from kafka_streams_reorder_timestamp_spark.operators.registry import (
        REGISTRY,
    )
    from kafka_streams_reorder_timestamp_spark.sources.catalog import (
        load_table,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    corpus = _planted_corpus(d)
    full = lsh_recall_audit(corpus, "text", "doc_id").collect()[0]
    reg = (
        REGISTRY["dedup_lsh_recall_audit"].builder(spark, sf_dir).collect()[0]
    )
    assert full.asDict() == reg.asDict()

    s1 = lsh_recall_audit(corpus, "text", "doc_id", sample_frac=0.5)
    s2 = lsh_recall_audit(corpus, "text", "doc_id", sample_frac=0.5)
    r1, r2 = s1.collect()[0], s2.collect()[0]
    assert r1.asDict() == r2.asDict()  # md5 sampling is deterministic
    assert 0 < r1.n_true < full.n_true  # genuinely sub-universe
    assert r1.n_found == r1.n_hit + r1.n_extra
    # on this corpus LSH finds every true pair, sampled or not
    assert r1.recall_bp == 10000 and r1.precision_bp == 10000, r1

    b = lsh_recall_audit(
        corpus, "text", "doc_id", id_bound=1_000_000_000
    ).collect()[0]
    # id_bound excludes the planted perturbed copies (ids offset 1e9),
    # so only same-universe true pairs remain
    assert b.n_true < full.n_true
    assert b.n_hit <= b.n_true and b.n_found == b.n_hit + b.n_extra


def test_audit_sample_pred_matches_md5_bucket(spark):
    """The Spark expression inside _audit_sample_pred (conv of the md5
    hex prefix) must equal the documented bucket function
    int(md5(str(id))[:8], 16) % 10000 — the same integer DuckDB
    computes (pinned cross-engine by the property test in
    test_properties.py), so a future sampled-audit oracle can replay
    the sample exactly."""
    import hashlib

    from kafka_streams_reorder_timestamp_spark.operators.dedup import (
        _audit_sample_pred,
    )

    ids = [0, 1, 19, 1_000_000_000, 1_000_000_019, -7, 2**41 + 3]
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    kept = {
        r.doc_id
        for r in df.filter(
            _audit_sample_pred("doc_id", 0.5, None)
        ).collect()
    }
    want = {
        i
        for i in ids
        if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000
        < 5000
    }
    assert kept == want


def test_sampled_overlap_estimates_full_matrix(spark, sf_dir):
    """The 100 TB audit knob on the exact overlap twin (round 10,
    mirroring lsh_recall_audit): user_sample_frac runs the exact
    pairwise Jaccard on a deterministic md5-bucket half of the USER
    universe. Pins: defaults reproduce the registered full twin, the
    registered audience_overlap_sampled is exactly the 0.5 point,
    the sampled audiences are genuine sub-universes, every type pair
    of the full matrix survives on this corpus, and the sampled
    Jaccard estimates the full one (uniform user sampling preserves
    the expected cell value)."""
    from kafka_streams_reorder_timestamp_spark.operators.events_queries import (
        event_type_audience_overlap,
    )
    from kafka_streams_reorder_timestamp_spark.operators.registry import (
        REGISTRY,
    )

    full = {
        (r.type_a, r.type_b): r
        for r in event_type_audience_overlap(spark, sf_dir).collect()
    }
    reg = {
        (r.type_a, r.type_b): r
        for r in REGISTRY["event_type_audience_overlap"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert {k: v.asDict() for k, v in full.items()} == {
        k: v.asDict() for k, v in reg.items()
    }

    s1 = {
        (r.type_a, r.type_b): r
        for r in event_type_audience_overlap(
            spark, sf_dir, user_sample_frac=0.5
        ).collect()
    }
    s2 = {
        (r.type_a, r.type_b): r
        for r in REGISTRY["audience_overlap_sampled"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert {k: v.asDict() for k, v in s1.items()} == {
        k: v.asDict() for k, v in s2.items()
    }  # registered query IS the knob's 0.5 point (and determinism)

    # Sampling can only lose cells (a type-pair whose sampled common
    # users all fall outside the bucket), never invent them — so
    # subset, not equality, is the testdata-robust invariant; require
    # most cells to survive so the assertions below retain power.
    assert set(s1) <= set(full)
    assert len(s1) >= max(1, len(full) // 2), (len(s1), len(full))
    for k, r in s1.items():
        f = full[k]
        assert 0 < r.n_a < f.n_a and 0 < r.n_b < f.n_b, k
        assert r.n_both <= f.n_both
        # ratio-estimator sanity: the sampled cell tracks the full one
        # inside sampling noise — gate the tolerance on the sampled
        # union size so a testdata bump that shrinks an audience
        # doesn't fail without a code regression (se ~ 1/sqrt(n)).
        n_union = r.n_a + r.n_b - r.n_both
        tol = max(0.1, 3.0 / (n_union ** 0.5)) if n_union else 1.0
        assert abs(r.jaccard - f.jaccard) <= tol, (k, r.jaccard, f.jaccard)
