"""Multimodal columns: image/audio/video as opaque `binary` payloads
with typed metadata (schemas.MEDIA_BLOB).

Spark-side plumbing is real and tested: schema, partitioning, Arrow
batch shape, `mapInPandas` feature extraction (numpy over binary
payloads — vectorized, no per-row Python function calls), and built-in
binary slicing for frame sampling. The actual image/audio CODECS are
stubbed: this container has no media libraries, so `decode_media`
raises NotImplementedError for real mime types and only decodes the
deterministic `application/x-raw-bytes` fake format. Swapping in a real
decoder changes ONE function body; every plan around it stays.

Scale notes: payloads never cross a shuffle unless an operator needs
them (features are extracted before any groupBy, so shuffles move small
feature rows, not blobs); `mapInPandas` streams Arrow batches, bounding
executor memory by batch size, not partition size.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.catalog import load_table
from .registry import register

FAKE_MIME = "application/x-raw-bytes"
N_HIST_BINS = 16

MEDIA_FEATURES = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("mean_byte", T.DoubleType(), True),
        T.StructField("byte_entropy", T.DoubleType(), True),
        T.StructField("histogram", T.ArrayType(T.LongType()), True),
    ]
)


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media rows derived from `documents`: payload =
    UTF-8 bytes of the text, kind cycles image/audio/video by doc_id.
    Gives every test and demo a reproducible binary corpus without
    media libraries."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    return docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").cast("binary").alias("payload"),
        F.lit(FAKE_MIME).alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Byte-level features per payload via `mapInPandas`: length, mean
    byte value, shannon entropy, 16-bin histogram. All numpy over the
    Arrow batch — the model for a real decode/feature-extract stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [],
                "mean_byte": [],
                "byte_entropy": [],
                "histogram": [],
            }
            for payload in pdf["payload"]:
                if payload is None or len(payload) == 0:
                    out["n_bytes"].append(0)
                    out["mean_byte"].append(None)
                    out["byte_entropy"].append(None)
                    out["histogram"].append([0] * N_HIST_BINS)
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=N_HIST_BINS)
                p = hist[hist > 0] / arr.size
                out["n_bytes"].append(int(arr.size))
                out["mean_byte"].append(float(arr.mean()))
                out["byte_entropy"].append(float(-(p * np.log2(p)).sum()))
                out["histogram"].append(hist.astype("int64").tolist())
            yield pd.DataFrame(out)

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, schema=MEDIA_FEATURES
    )


def decode_media(media: DataFrame) -> DataFrame:
    """Decode payloads into pixel/sample arrays.

    STUB for real codecs: jpeg/png/wav/mp4 would need libraries absent
    from this container, so those mimes raise NotImplementedError at
    executor time. The deterministic fake format decodes bytes as one
    u8 channel so downstream plumbing (schema, batching) is exercised
    for real.
    """
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("samples", T.ArrayType(T.IntegerType()), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            samples = []
            for mime, payload in zip(pdf["mime"], pdf["payload"]):
                if mime != FAKE_MIME:
                    raise NotImplementedError(
                        f"no codec for {mime!r} in this environment; "
                        f"only {FAKE_MIME} decodes"
                    )
                samples.append(
                    np.frombuffer(payload, dtype=np.uint8).astype("int32").tolist()
                    if payload is not None
                    else None
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "samples": samples})

    return media.select("media_id", "mime", "payload").mapInPandas(run, schema=schema)


def sample_frames(media: DataFrame, frame_bytes: int = 64, stride: int = 4) -> DataFrame:
    """Frame sampling with built-in binary slicing — every `stride`-th
    `frame_bytes` chunk of the payload becomes a row (frame_no, frame).
    JVM-side (`substring` on binary), no Python: sampling shrinks data
    BEFORE any expensive decode stage touches it."""
    n_frames = F.floor(F.length("payload") / F.lit(frame_bytes)).cast("int")
    frames = F.transform(
        F.filter(
            F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0))),
            lambda i: i % stride == 0,
        ),
        lambda i: F.struct(
            i.alias("frame_no"),
            F.substring(F.col("payload"), i * frame_bytes + 1, frame_bytes).alias(
                "frame"
            ),
        ),
    )
    return (
        media.filter(F.length("payload") >= frame_bytes)
        .select("media_id", "kind", F.explode(frames).alias("f"))
        .select(
            "media_id",
            "kind",
            F.col("f.frame_no").alias("frame_no"),
            F.col("f.frame").alias("frame"),
        )
    )


@register(
    "media_feature_stats",
    # Byte features ARE SQL-expressible after all (round 9, closing the
    # no_oracle residue): DuckDB reaches individual payload bytes via
    # hex(encode(text)) + 2-char substring parsed as INT. The per-doc
    # math is integer-exact until the final divisions (byte sums and
    # histogram counts are integers; mean = exact_sum / n and
    # p = c / n are single correctly-rounded double divisions in both
    # engines), so the rollup hash-matches the numpy mapInPandas path
    # bit-for-bit. Empty payloads stay NULL-featured through the LEFT
    # joins exactly as the Arrow path emits them.
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'image'
                             WHEN 1 THEN 'audio'
                             ELSE 'video' END AS kind,
             hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents WHERE text IS NOT NULL
    ), bytes AS (
      SELECT doc_id, n,
             ('0x' || substring(h, CAST(i AS INT) * 2 + 1, 2))::INT AS b
      FROM (SELECT doc_id, n, h, unnest(range(n)) AS i FROM m)
    ), mean_f AS (
      SELECT doc_id, SUM(b) * 1.0 / MAX(n) AS mean_byte
      FROM bytes GROUP BY 1
    ), hist AS (
      SELECT doc_id, n, b // 16 AS bin, COUNT(*) AS c
      FROM bytes GROUP BY 1, 2, 3
    ), ent AS (
      SELECT doc_id,
             -SUM((c * 1.0 / n) * log2(c * 1.0 / n)) AS byte_entropy
      FROM hist GROUP BY 1
    )
    SELECT m.kind,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(m.n) AS BIGINT) AS total_bytes,
           ROUND(AVG(f.mean_byte), 4) AS avg_mean_byte,
           ROUND(AVG(e.byte_entropy), 4) AS avg_entropy
    FROM m LEFT JOIN mean_f f USING (doc_id)
           LEFT JOIN ent e USING (doc_id)
    GROUP BY 1
    """,
    doc="Multimodal pipeline: documents → binary payload synthesis → "
    "mapInPandas byte features → per-kind rollup. Blobs stay columnar "
    "until features shrink them; only feature rows shuffle. The "
    "DuckDB oracle recomputes the byte features relationally "
    "(hex-sliced bytes, integer histogram, closed-form entropy), so "
    "the whole Arrow/numpy path is value-hash-checked — "
    "tests/test_llm_pipeline.py's pure-Python pin stays as the "
    "independent third implementation.",
)
def media_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(synthesize_media(docs))
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg("mean_byte"), 4).alias("avg_mean_byte"),
        F.round(F.avg("byte_entropy"), 4).alias("avg_entropy"),
    )


@register(
    "media_frame_inventory",
    oracle="""
    WITH m AS (
      SELECT CASE doc_id % 3 WHEN 0 THEN 'image'
                             WHEN 1 THEN 'audio'
                             ELSE 'video' END AS kind,
             octet_length(encode(text)) AS len
      FROM documents WHERE text IS NOT NULL
    ), f AS (
      SELECT kind, (len // 64 + 3) // 4 AS nf FROM m WHERE len >= 64
    )
    SELECT kind,
           COUNT(*) AS n_media,
           CAST(SUM(nf) AS BIGINT) AS n_frames,
           CAST(SUM(nf) * 64 AS BIGINT) AS frame_bytes
    FROM f GROUP BY kind
    """,
    doc="Frame-sampling accounting per media kind: every 4th 64-byte "
    "frame of each payload, counted and sized AFTER the JVM binary-"
    "slicing explode actually runs (sample_frames) — while the oracle "
    "derives the same inventory in closed form from payload lengths, "
    "so the explode/substring plumbing is value-hash-checked end to "
    "end. Sampling shrinks data before any decode stage: only "
    "(media_id, 64B frame) rows exist downstream, never whole blobs.",
)
def media_frame_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(synthesize_media(docs), frame_bytes=64, stride=4)
    return frames.groupBy("kind").agg(
        F.count_distinct("media_id").alias("n_media"),
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.length("frame")).alias("frame_bytes"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup (dHash over pooled byte grids + Hamming LSH)


def phash64(payload_col: str = "payload"):
    """64-bit dHash-style perceptual hash of a binary payload.

    The byte stream is average-pooled into an 8x9 grid (72 cells —
    the decode-free stand-in for 'resize image to 9x8 grayscale');
    each bit compares horizontally adjacent cells (cell > right
    neighbor). Pooling makes the signature robust to small local
    edits — the property that lets Hamming distance find re-encoded
    or lightly-edited copies where exact byte hashing cannot. One
    Arrow pass, numpy-vectorized per batch; short payloads right-pad
    with zeros so the grid is always full.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def _phash(payloads: pd.Series) -> pd.Series:
        out = []
        for payload in payloads:
            if payload is None or len(payload) == 0:
                out.append(None)
                continue
            buf = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
            if len(buf) < 72:
                buf = np.pad(buf, (0, 72 - len(buf)))
            n = len(buf)
            # pooling boundaries (i*n)//72: one reduceat, no per-cell
            # Python — the row cost is a handful of numpy calls.
            idx = (np.arange(72) * n) // 72
            cells = np.add.reduceat(buf, idx) / np.diff(np.append(idx, n))
            grid = cells.reshape(8, 9)
            bits = (grid[:, :-1] > grid[:, 1:]).ravel()  # 8x8 = 64 bits
            v = int.from_bytes(np.packbits(bits).tobytes(), "big")
            out.append(v - (1 << 64) if v >= (1 << 63) else v)
        return pd.Series(out, dtype="object")

    # asNondeterministic (guide §4.4): media_phash_neardup filters on
    # _sig IS NOT NULL; without the flag the pushed filter re-evaluates
    # the pooling pass (and the _bump perturbation under it) a second
    # time below the widen exchange. Pure function; results unchanged.
    return _phash.asNondeterministic()(F.col(payload_col))


@register(
    "media_phash_neardup",
    # Round 9: the dHash IS exactly SQL-expressible, so the former
    # pytest-only contract gains a full DuckDB oracle. Keys to
    # exactness: (a) payload bytes via hex slicing (as
    # media_feature_stats); (b) the pooled-cell comparison
    # mean_a > mean_b is computed as the INTEGER cross-multiplication
    # s_a*c_b > s_b*c_a — equivalent to numpy's double compare because
    # distinct cell means differ by >= 1/(c_a*c_b) (~1e-3) while
    # division rounding error is ~1e-14, and exact ties are False in
    # both forms; (c) the 64-bit signature accumulates in HUGEINT and
    # wraps to signed BIGINT exactly as the numpy path does; (d) the
    # pigeonhole banding is candidate generation only — the RESULT
    # set equals brute-force all-pairs at Hamming <= 3, which the
    # oracle computes directly (sf-bounded oracle-side cost only).
    oracle="""
    WITH m0 AS (
      SELECT doc_id AS media_id,
             hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
      WHERE text IS NOT NULL AND octet_length(encode(text)) > 0
    ), raw_bytes AS (
      SELECT media_id, n,
             CAST(i AS BIGINT) AS pos,
             ('0x' || substring(h, CAST(i AS INT) * 2 + 1, 2))::BIGINT AS b
      FROM (SELECT media_id, n, h, unnest(range(n)) AS i FROM m0)
    ), all_bytes AS (
      SELECT media_id, n, pos, b FROM raw_bytes
      UNION ALL
      SELECT media_id + 5000000000 AS media_id, n, pos,
             (b + 1) % 256 AS b
      FROM raw_bytes WHERE media_id < 15
    ), padded AS (
      SELECT media_id, GREATEST(n, 72) AS np, pos, b FROM all_bytes
      UNION ALL
      SELECT a.media_id, 72 AS np, CAST(p.i AS BIGINT) AS pos, 0 AS b
      FROM (SELECT DISTINCT media_id, n FROM all_bytes WHERE n < 72) a,
           unnest(range(72)) AS p(i)
      WHERE p.i >= a.n
    ), cells AS (
      SELECT media_id,
             (72 * (pos + 1) + np - 1) // np - 1 AS cell,
             SUM(b) AS s, COUNT(*) AS c
      FROM padded GROUP BY 1, 2
    ), bits AS (
      SELECT l.media_id,
             (l.cell // 9) * 8 + (l.cell % 9) AS k,
             CAST(l.s * r.c > r.s * l.c AS INT) AS bit
      FROM cells l JOIN cells r
        ON l.media_id = r.media_id AND r.cell = l.cell + 1
      WHERE l.cell % 9 < 8
    ), sigs AS (
      SELECT media_id,
             SUM(CASE WHEN bit = 1
                 THEN CAST(1 AS HUGEINT) << CAST(63 - k AS INT)
                 ELSE 0 END) AS v
      FROM bits GROUP BY 1
    ), sig64 AS (
      SELECT media_id,
             CAST(CASE WHEN v >= CAST(1 AS HUGEINT) << 63
                  THEN v - (CAST(1 AS HUGEINT) << 64) ELSE v END
                  AS BIGINT) AS sig
      FROM sigs
    )
    SELECT a.media_id AS media_a, b.media_id AS media_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sig64 a JOIN sig64 b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """,
    doc="Perceptual-hash near-dup over the media corpus plus "
    "deterministic perturbed copies (payloads of media 0-14 with "
    "every byte shifted +1 — the uniform 'brightness change' that "
    "breaks exact hashing completely, ids +5e9): 64-bit pooled-grid "
    "dHash "
    "(phash64), then the SAME pigeonhole Hamming banding as "
    "dedup_simhash (hamming_band_pairs, max distance 3 -> 4 16-bit "
    "bands; text-derived grids are correlated, so wider budgets fatten "
    "band buckets quadratically for little recall — measured) — "
    "multimodal dedup without decoding, sharing one verified LSH "
    "code path across text and media. The DuckDB oracle recomputes "
    "the dHash relationally (integer cross-multiplied cell compares, "
    "HUGEINT bit assembly) and brute-forces the Hamming-<=3 pairs, "
    "value-hash-checking both the signature math and the banding's "
    "pigeonhole completeness. Shape for 100 TB: signatures "
    "reduce each blob to 8 bytes BEFORE any shuffle (blobs never "
    "cross an exchange); banding bounds candidate fan-out by bucket "
    "size; verification is bit_count(xor), JVM-side.",
)
def media_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .simhash import hamming_band_pairs

    from pyspark.sql.functions import pandas_udf

    docs = load_table(spark, sf_dir, "documents")
    # Pre-filter on the DETERMINISTIC payload length, not on the UDF
    # output: phash64 is nondeterministic-marked (no duplicate UDF
    # eval, guide §4.4), which also stops the `_sig IS NOT NULL`
    # filter from pushing below the pre-widen exchange — so the
    # null/empty rows it used to drop early were crossing the shuffle
    # (r13 driver bench: 0.84x). length(payload) > 0 is exactly the
    # rows where _phash returns non-NULL (and _bump preserves both
    # NULL and length, so filtering before the perturbation keeps the
    # same perturbed set) — identical output, pushable filter.
    media = synthesize_media(docs).filter(F.length("payload") > 0)

    @pandas_udf(T.BinaryType())
    def _bump(payloads: pd.Series) -> pd.Series:
        # uniform +1 byte shift — the 'brightness change' that breaks
        # every exact hash but leaves relative cell order (and so the
        # dHash) untouched PROVIDED no byte wraps at 0xFF: a payload
        # containing 255-bytes would wrap to 0 and could reorder pooled
        # cell averages. The synthetic payloads here are ASCII text
        # (all bytes < 0x80), so the invariance holds for this corpus;
        # a real image perturbation would clamp, not mod-256.
        return payloads.map(
            lambda b: None
            if b is None
            else ((np.frombuffer(b, dtype=np.uint8) + 1) % 256)
            .astype(np.uint8)
            .tobytes()
        )

    perturbed = media.filter(F.col("media_id") < 15).select(
        (F.col("media_id") + F.lit(5_000_000_000)).alias("media_id"),
        _bump(F.col("payload")).alias("payload"),
    )
    corpus = media.select("media_id", "payload").unionByName(perturbed)
    par = spark.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < par:
        corpus = corpus.repartition(par)
    sigs = corpus.select(
        F.col("media_id").alias("_id"), phash64().alias("_sig")
    ).filter(F.col("_sig").isNotNull())
    return hamming_band_pairs(sigs, max_hamming=3).select(
        F.col("doc_a").alias("media_a"),
        F.col("doc_b").alias("media_b"),
        "hamming",
    )
