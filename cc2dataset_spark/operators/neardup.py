"""Near-duplicate detection family (north-star dedup ops; SURVEY.md
§2.4 A5). No reference implementation — the reference only has exact
uid-dedup (main.py:256); these are the scale extensions a training-data
pipeline needs.

All signatures are deterministic AND cross-engine-replayable: shingle
and band hashing go through functions.hashes.md5_number_lower (the
exact twin of DuckDB's builtin), so the full MinHash/SimHash output can
be re-derived by the SQL correctness oracle — a hard requirement both
for multi-part pipelines that dedup incrementally and for proving the
approximate operators against an independent engine.

Scale shapes:
- MinHash LSH: cost is O(docs x shingles) map-side + a shuffle keyed on
  (band_idx, band_hash). Bucket sizes are ~uniform (hash keys), so no
  skew; candidate verification joins shingle arrays only for candidate
  pairs, never all pairs.
- Exact Jaccard (explode + equi-join on shingle) is quadratic in
  per-shingle document frequency — fine as a verifier/oracle, not the
  100 TB path; stop-shingle filtering caps the blowup.
- Embedding near-dup: brute force is the correctness baseline;
  SimHash sign-buckets give the subquadratic candidate path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cc2dataset_spark.functions.hashes import md5_mod_from_hex
from cc2dataset_spark.functions.numeric import ratio_round6
from cc2dataset_spark.operators.partitioning import spread_small
from cc2dataset_spark.functions.text import tokens, word_shingles
from cc2dataset_spark.functions.vectors import (
    as_double_array,
    cosine_similarity,
    random_hyperplanes,
    simhash_signature,
)


# Universal-hash permutation family h_i(x) = (a_i*x + b_i) mod p over a
# 2^31 domain: products stay under 2^62 so ANSI-mode bigint arithmetic
# can never overflow. Fixed seed keeps signatures reproducible.
_MERSENNE_P = 2147483647  # 2^31 - 1


def _perm_constants(num_hashes: int) -> list[tuple[int, int]]:
    rnd = __import__("random").Random(0x5EED)
    return [
        (rnd.randrange(1, _MERSENNE_P), rnd.randrange(0, _MERSENNE_P))
        for _ in range(num_hashes)
    ]


def _hash_shingles(sh: Column) -> Column:
    """array<shingle string> -> array<[0, P) bigint>, identical in
    Spark and DuckDB (``md5_number_lower(s) % P`` on the DuckDB side).
    Two-pass transform so each md5 digest is computed exactly once per
    shingle (see functions/hashes.md5_mod_from_hex)."""
    digests = F.transform(sh, F.md5)
    return F.transform(digests, lambda h: md5_mod_from_hex(h, _MERSENNE_P))


def _signature_expr(num_hashes: int) -> Column:
    """MinHash signature over a hashed-shingle array column ``_h``:
    k universal-hash permutations (bigint affine maps) folded with
    array_min — ONE definition shared by minhash_signatures and the
    pinned-frame path in minhash_neardup_pairs, so the permutation
    family can never drift between them."""

    def perm(a: int, b: int):
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))

    return F.array(
        *[
            F.array_min(F.transform(F.col("_h"), perm(a, b)))
            for a, b in _perm_constants(num_hashes)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_words: int = 3,
) -> DataFrame:
    """(id, sig: array<bigint>) — MinHash signature per document.

    One md5 pass over the shingle strings, then the k permutations
    are cheap bigint affine maps over those hashes (the classic
    universal-hashing MinHash; one string-hash pass instead of k keeps
    the whole signature inside one codegen stage). Documents with no
    shingles (shorter than the shingle width) drop out, matching
    standard MinHash semantics."""
    sh = F.array_distinct(word_shingles(text_col, shingle_words))
    hashed = _hash_shingles(sh)
    return (
        df.select(F.col(id_col), hashed.alias("_h"))
        .where(F.size("_h") > 0)
        .select(F.col(id_col), _signature_expr(num_hashes).alias("sig"))
    )


def lsh_band_buckets(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    num_hashes: int = 16,
) -> DataFrame:
    """Signature -> (id, band_idx, band_hash). Documents agreeing on any
    full band land in the same bucket.

    ``num_hashes`` must be the actual signature length and divisible by
    ``bands`` — slicing with the wrong width would either hash empty
    tail slices (every doc collides: quadratic candidate blowup) or
    silently ignore tail hashes (recall loss).

    The bucket key is xxhash64 over the comma-joined slice: a BIGINT
    shuffle/join key (a DECIMAL key here measured ~2x slower through
    the exchange+join+distinct). Band hashing only CREATES candidate
    pairs — exact verification filters them — so the SQL oracle joins
    on the band string itself and still reproduces the output exactly
    unless xxhash64 collides across distinct slices (~2^-64 per bucket
    pair, and even then the phantom candidate must also pass the
    Jaccard threshold)."""
    if num_hashes % bands != 0 or num_hashes <= 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes})"
        )
    width = num_hashes // bands
    return sig_df.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.array_join(
                            F.slice(F.col("sig"), b * width + 1, width).cast(
                                "array<string>"
                            ),
                            ",",
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) — docs sharing >=1 band.
    The only shuffle is the equi-join on (band_idx, band_hash)."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_words)
    return _band_candidates(sigs, id_col, bands, num_hashes)


def _band_candidates(
    sigs: DataFrame, id_col: str, bands: int, num_hashes: int
) -> DataFrame:
    """(id_a < id_b) pairs sharing >= 1 LSH band — the single shuffle
    of the LSH path, shared by minhash_candidate_pairs and
    minhash_neardup_pairs."""
    buckets = lsh_band_buckets(sigs, id_col, bands, num_hashes)
    a = buckets.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_hash"
    )
    b = buckets.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_hash"
    )
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify_pairs(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over candidate pairs: join the two shingle sets in,
    compute |A∩B| / |A∪B| with array ops, keep >= threshold."""
    sh = df.select(
        F.col(id_col),
        F.array_distinct(word_shingles(text_col, shingle_words)).alias("_sh"),
    )
    return _jaccard_verify(candidates, sh, id_col, threshold)


def _jaccard_verify(
    candidates: DataFrame,
    shingle_frame: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification over a (id, _sh) shingle frame —
    shared by jaccard_verify_pairs and minhash_neardup_pairs (which
    passes its PINNED frame so verification reuses the tokenize pass).
    Intersection size is materialized once (an inline reference from
    both numerator and union would run the O(n) array_intersect twice
    per pair), and the 6dp rounding is the integer-exact rational —
    F.round on the double is NOT cross-engine stable at half
    boundaries (functions/numeric.py)."""
    sh_a = shingle_frame.select(
        F.col(id_col).alias("id_a"), F.col("_sh").alias("sh_a")
    )
    sh_b = shingle_frame.select(
        F.col(id_col).alias("id_b"), F.col("_sh").alias("sh_b")
    )
    sized = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("_c"),
            (F.size("sh_a") + F.size("sh_b")).alias("_ab"),
        )
    )
    jac = ratio_round6(F.col("_c"), F.col("_ab") - F.col("_c"))
    return (
        sized.select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """Full MinHash+LSH near-dup: candidates by banded LSH, verified by
    exact Jaccard. Deterministic output (id_a < id_b, jaccard).

    The shingle set is computed ONCE and persisted (memory-and-disk),
    then reused by both the signature/banding stage and the verify
    join — at 100 TB, re-tokenizing the corpus for verification would
    double the dominant cost.
    """
    from pyspark.storagelevel import StorageLevel

    from cc2dataset_spark import caching

    sh_expr = F.array_distinct(word_shingles(text_col, shingle_words))
    base = caching.track(
        spread_small(df.select(F.col(id_col), F.col(text_col)), ref=df)
        .select(F.col(id_col), sh_expr.alias("_sh"))
        .where(F.size("_sh") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs = base.select(
        F.col(id_col), _hash_shingles(F.col("_sh")).alias("_h")
    ).select(F.col(id_col), _signature_expr(num_hashes).alias("sig"))
    cands = _band_candidates(sigs, id_col, bands, num_hashes)
    return _jaccard_verify(cands, base, id_col, threshold)


def exact_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard via shingle explode + equi-join —
    the SQL-expressible ground truth the LSH path approximates.
    ``max_shingle_df`` drops shingles appearing in more than N docs
    (stop-shingles), the standard cap on join blowup at scale."""
    sh = spread_small(df.select(F.col(id_col), F.col(text_col)), ref=df).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(text_col, shingle_words))).alias("s"),
    )
    if max_shingle_df is not None:
        # Broadcast the STOP list (shingles in > N docs), not the keep
        # list: at corpus scale almost every shingle is rare, so the
        # keep list is nearly the whole shingle universe while the stop
        # list is a handful of boilerplate n-grams.
        hot = (
            sh.groupBy("s").agg(F.count("*").alias("df_"))
            .where(F.col("df_") > max_shingle_df)
            .select("s")
        )
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    # Pin ONE shingle-keyed exchange that the self-join sides and the
    # size count read via runtime exchange reuse instead of each
    # re-evaluating the shingle explode from the scan (measured ~30%
    # at sf0.1 — same pattern as winnow_overlap_pairs); the join needs
    # this partitioning anyway.
    sh = sh.repartition("s")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    common = (
        sh.alias("a")
        .join(sh.alias("b"), "s")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    jac = ratio_round6(
        F.col("common"), F.col("na") + F.col("nb") - F.col("common")
    )
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
) -> DataFrame:
    """Brute-force cosine near-dup pairs (correctness baseline;
    quadratic — bound the input or use simhash_neardup_pairs at scale).

    Float-fold outputs (cosine here and in the ANN family) keep
    F.round(…, 6) DELIBERATELY, unlike integer ratios (which round the
    exact rational via ratio_round6): the underlying doubles are the
    same sequential fold in both engines (verified bit-exact, module
    header), so rounding costs nothing when folds agree and absorbs a
    hypothetical last-ulp disagreement everywhere except an exact
    6-dp half boundary — which for a transcendental-valued cosine is
    measure-zero against 7 rounds of three-scale sweeps. Emitting raw
    doubles would instead surface EVERY ulp disagreement."""
    v = df.select(F.col(id_col), as_double_array(vec_col).alias("v"))
    a = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    cos = cosine_similarity(F.col("va"), F.col("vb"))
    return (
        pairs.select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def edit_distance_pairs(
    df: DataFrame,
    col: str = "source",
    max_distance: int = 1,
) -> DataFrame:
    """Edit-distance <= 1 pairs over a string domain via DELETION-
    NEIGHBORHOOD blocking (FastSS, Bocek et al. 2007 — the SymSpell
    principle): every string emits itself plus each single-character
    deletion; two strings within one edit (substitute / insert /
    delete) provably share a variant (substitution at i: both i-th
    deletions coincide; insertion: the inserted char's deletion IS the
    other string), so an equi-join on variants is a COMPLETE candidate
    generator — never a cross join — and ``levenshtein`` verifies.
    The record-linkage workhorse for typo-level key matching (hosts,
    SKUs, names).

    Scale shape: the variant explode is (len+1) rows per distinct
    string; the join keys are near-unique (a variant collides only
    for actual near-matches), so the self-join fan-out tracks the
    true match count, not the corpus size. Only edit distance 1 is
    blocked this way — the k-deletion generalization multiplies
    variants by C(len, k); prefer it only for k <= 2.
    """
    if max_distance != 1:
        raise NotImplementedError(
            "deletion-neighborhood blocking implemented for "
            f"max_distance=1 only, got {max_distance}"
        )
    s = df.select(F.col(col).alias("v")).distinct()
    variants = F.array_union(
        F.array(F.col("v")),
        F.expr("transform(sequence(1, length(v)), "
               "i -> concat(substr(v, 1, i - 1), substr(v, i + 1)))"),
    )
    ex = s.select("v", F.explode(variants).alias("d"))
    a = ex.select(F.col("v").alias("src_a"), "d")
    b = ex.select(F.col("v").alias("src_b"), "d")
    cands = (
        a.join(b, "d")
        .where(F.col("src_a") < F.col("src_b"))
        .select("src_a", "src_b")
        .distinct()
    )
    dist = F.levenshtein("src_a", "src_b")
    return cands.select(
        "src_a", "src_b", dist.cast("bigint").alias("dist")
    ).where(F.col("dist") <= max_distance)


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    grid_b: int | None = None,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard via PREFIX FILTERING (the
    AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): a LOSSLESS alternative to exact_jaccard_pairs'
    stop-shingle cap. Order the shingle universe globally by
    (document-frequency asc, shingle); for Jaccard >= t any match must
    share a shingle inside each doc's (|x| - ceil(t|x|) + 1)-prefix
    under that order (J >= t implies overlap >= ceil(t|x|), and two
    ordered sets with overlap >= a must meet within their
    (size - a + 1)-prefixes), so only PREFIX shingles join — and
    prefixes hold each doc's RAREST shingles, so the join's per-key
    fan-out is biased to df~1 keys: boilerplate n-grams that detonate
    the naive shingle join sit at the END of the order and never enter
    a prefix. No dropped shingles, no recall loss; "exact" is over
    64-bit md5 shingle fingerprints (functions/hashes.md5_long63), so
    a wrong pair needs an md5-64 collision inside one pair's shingle
    union — ~U^2/2^64 for a U-shingle corpus, deterministic, and the
    same fingerprint-exactness contract as the MinHash verifier.

    Shuffle discipline (every byte that moves is an 8-byte fingerprint
    or a doc id, never a raw shingle string):
    - shingles fold to BIGINT BEFORE the first exchange, so the
      df-count, df-annotation join, prefix window, and candidate
      self-join all move 8-byte keys;
    - candidate generation is SIZE-ASYMMETRIC (PPJoin): order docs by
      (|x|, id); the smaller side of a pair only indexes its
      (|x| - ceil(2t/(1+t)|x|) + 1)-prefix — valid because the length
      filter guarantees |y| <= |x|/t, hence required overlap
      a = ceil(t/(1+t)(|x|+|y|)) >= ceil(2t/(1+t)|x|) — measured ~1.5x
      fewer candidates than symmetric prefixes at sf0.1;
    - the PPJoin POSITIONAL filter drops join rows whose match
      positions cap the overlap below a: for a common token at
      (i, j), c <= min(i,j) + min(|x|-i, |y|-j); a true pair's
      guaranteed in-prefix common token always passes, so keeping
      pairs with ANY passing row is lossless;
    - verification is a FRAGMENT-REPLICATE GRID join (the classic
      theta-join grid): pairs hash to a (B x B) cell by (id_x, id_y);
      each doc's fingerprint array replicates to at most B cells per
      side — O(docs x B), NOT O(pairs) — and both grid joins run on
      one cell-keyed exchange (subset co-partitioning,
      spark.sql.requireAllClusterKeysForCoPartition=false, set by the
      session.py builders — never mutated here; semantics-preserving —
      it only lets Catalyst RECOGNIZE that two sides hash-partitioned
      on the same key subset are co-located; a session without it
      plans one extra exchange per grid join, still correct). The naive ship-arrays-per-pair verifier measured
      274 MB on this stage at sf0.1 (886 B/candidate); the grid moves
      ~O(docs x B) array bytes + O(pairs) 16-byte rows. B defaults to
      ~sqrt(parallelism) (the fragment-replicate optimum shape): cells
      = B^2 >= cores for full parallelism, replication grows only as
      sqrt(cluster size).

    threshold = threshold_num/threshold_den kept rational so prefix
    arithmetic is integer-exact in any engine.
    """
    import math

    from pyspark.storagelevel import StorageLevel

    from cc2dataset_spark import caching
    from cc2dataset_spark.functions.hashes import md5_long63_from_hex

    t_n, t_d = threshold_num, threshold_den
    spark = df.sparkSession
    if grid_b is None:
        grid_b = max(2, math.isqrt(spark.sparkContext.defaultParallelism - 1) + 1)
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Exchange sharing across the grid joins needs
    # spark.sql.requireAllClusterKeysForCoPartition=false AT EXECUTION
    # time (EnsureRequirements reads it when the returned frame is
    # acted on, after this function exits), so setting it here would
    # both mutate the caller's session AND be too early to guarantee
    # anything. The session.py builders set it; on a foreign session
    # without it the plan stays CORRECT with one extra cell exchange
    # per grid join (semantics-preserving either way).

    # md5 materialized once per shingle (transform-of-transform: no CSE
    # inside HOF lambdas — see hashes.md5_long63_from_hex); distinct
    # AFTER hashing so sizes stay self-consistent with the fingerprint
    # sets the verifier intersects.
    base = caching.track(
        spread_small(df.select(F.col(id_col), F.col(text_col)), ref=df)
        .select(
            F.col(id_col).alias("did"),
            F.array_distinct(
                F.transform(
                    F.transform(
                        word_shingles(text_col, shingle_words), F.md5
                    ),
                    md5_long63_from_hex,
                )
            ).alias("sh"),
        )
        .where(F.size("sh") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ex = base.select(
        "did", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    # The df table is SHINGLE-UNIVERSE-scale (there is deliberately no
    # stop cap here — losslessness is the point), so it must never be
    # a build-side broadcast: post-aggregate row estimates are
    # optimistic enough that the static planner picks one, and at the
    # 10x near-copy probe that broadcast OOMs the default heap. Pin
    # shuffle-hash: the join then shares the shingle-keyed exchange.
    dfc = ex.groupBy("s").agg(F.count("*").alias("df_"))
    exdf = ex.join(dfc.hint("shuffle_hash"), "s")
    # probe prefix p = n - ceil(t*n) + 1; index prefix
    # q = n - ceil(2t/(1+t)*n) + 1; ceil(a/b) = (a+b-1) div b
    p = (
        F.col("n")
        - F.expr(f"(n * {t_n} + {t_d} - 1) div {t_d}")
        + F.lit(1)
    )
    q = (
        F.col("n")
        - F.expr(f"(n * {2 * t_n} + {t_n + t_d} - 1) div {t_n + t_d}")
        + F.lit(1)
    )
    w = Window.partitionBy("did").orderBy("df_", "s")
    # repartition("s"): the self-join needs s-clustering anyway, and
    # pinning it HERE means both join sides read one exchange (AQE
    # stage reuse) instead of each re-running the df join + window —
    # the sides otherwise canonicalize differently and the whole
    # prefix pipeline executes twice (measured ~2x stage time).
    # Persisted: the x and y sides read it with DIFFERENT column
    # prunings (x needs q, y doesn't), which canonicalizes to two
    # different exchange subplans — AQE stage reuse does NOT fire and
    # the whole exploded pipeline would execute once per side
    # (measured: 6 copies of the 260k-row exploded exchange before
    # this persist + the cands one below).
    prefix = caching.track(
        exdf.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= p)
        .select("did", "s", "n", "rn", q.alias("q"))
        .repartition("s")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # x = indexed (smaller) side, trimmed to the short prefix; y =
    # probing side with the full prefix. Canonical roles by (n, id)
    # mean each unordered pair is generated under exactly one role
    # assignment — no double counting, no missed orientation.
    x = prefix.where(F.col("rn") <= F.col("q")).select(
        F.col("did").alias("id_x"),
        "s",
        F.col("n").alias("nx"),
        F.col("rn").alias("ix"),
    )
    y = prefix.select(
        F.col("did").alias("id_y"),
        "s",
        F.col("n").alias("ny"),
        F.col("rn").alias("iy"),
    )
    canonical = (F.col("nx") < F.col("ny")) | (
        (F.col("nx") == F.col("ny")) & (F.col("id_x") < F.col("id_y"))
    )
    # LENGTH FILTER (AllPairs): J >= t_n/t_d requires
    # t_d*min(|x|,|y|) >= t_n*max — integer-exact, LOSSLESS, and the
    # precondition for the asymmetric index prefix above.
    length_ok = F.lit(t_d) * F.col("nx") >= F.lit(t_n) * F.col("ny")
    # required overlap a = ceil(t/(1+t)(nx+ny)), integer-exact
    req = F.expr(
        f"((nx + ny) * {t_n} + {t_n + t_d} - 1) div {t_n + t_d}"
    )
    positional = (
        F.least("ix", "iy")
        + F.least(F.col("nx") - F.col("ix"), F.col("ny") - F.col("iy"))
    ) >= req
    # Fragment-replicate grid verification. Routing hash is xxhash64
    # (pure routing, cannot change the output — hashes.py policy).
    # The pair stream is routed to its grid cell BEFORE dedup: cell is
    # a function of (id_x, id_y), so all copies of a pair land in one
    # partition and — with subset clustering (the default
    # requireAllClusterKeysForDistribution=false) — the dropDuplicates
    # AND both per-side cell-map distincts below run WITHOUT further
    # exchanges. The pair stream crosses the wire exactly once
    # (measured: the dedup-then-route formulation shipped it twice —
    # 362 MB + 390 MB at the 10x probe — plus two 80-90 MB
    # partial-distinct exchanges for the cell maps).
    cell = (
        F.pmod(F.xxhash64("id_x"), F.lit(grid_b)) * grid_b
        + F.pmod(F.xxhash64("id_y"), F.lit(grid_b))
    )
    # Persisted: consumed three times below (pair probe + both
    # per-side replication maps); without it each consumer re-runs
    # the full candidate join.
    cp = caching.track(
        x.join(y.hint("shuffle_hash"), "s")
        .where(canonical & length_ok & positional)
        .select("id_x", "id_y", cell.alias("cell"))
        .repartition(nparts, F.col("cell"))
        .dropDuplicates(["cell", "id_x", "id_y"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rep_x = (
        cp.select("id_x", "cell")
        .distinct()
        .join(
            base.select(
                F.col("did").alias("id_x"), F.col("sh").alias("shx")
            ).hint("shuffle_hash"),
            "id_x",
        )
    )
    rep_y = (
        cp.select("id_y", "cell")
        .distinct()
        .join(
            base.select(
                F.col("did").alias("id_y"), F.col("sh").alias("shy")
            ).hint("shuffle_hash"),
            "id_y",
        )
    )
    # Explicit repartition on cell alone: with subset co-partitioning
    # enabled, BOTH grid joins are satisfied by the cell exchanges —
    # the pair+array intermediate is re-sorted locally, never
    # re-shuffled (the whole point: its width is one fingerprint array
    # per row). shuffle_hash on the rep sides: at corpus scale they
    # are O(docs x B) — never a broadcast candidate.
    ver = (
        cp.join(
            rep_x.repartition(nparts, F.col("cell")).hint("shuffle_hash"),
            ["cell", "id_x"],
        )
        .join(
            rep_y.repartition(nparts, F.col("cell")).hint("shuffle_hash"),
            ["cell", "id_y"],
        )
    )
    sized = ver.select(
        "id_x",
        "id_y",
        F.size(F.array_intersect("shx", "shy")).alias("c"),
        (F.size("shx") + F.size("shy")).alias("ab"),
    )
    # EXACT integer threshold predicate: J = c/(ab-c) >= t_n/t_d
    # <=> t_d*c >= t_n*(ab-c) — never the rounded jaccard vs a float
    # threshold, which drops/admits boundary pairs whenever t_n/t_d is
    # not exactly representable in 6 decimals (e.g. 1/3). The rounded
    # value is kept as the DISPLAY column only.
    jac = ratio_round6(F.col("c"), F.col("ab") - F.col("c"))
    return sized.where(
        F.lit(t_d) * F.col("c") >= F.lit(t_n) * (F.col("ab") - F.col("c"))
    ).select(
        F.least("id_x", "id_y").alias("id_a"),
        F.greatest("id_x", "id_y").alias("id_b"),
        jac.alias("jaccard"),
    )


def embedding_neardup_pairs_blocked(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    block_size: int = 1024,
) -> DataFrame:
    """EXACT all-pairs cosine near-dup — value-identical to
    :func:`embedding_neardup_pairs` — executed as a blocked kernel so
    the ground truth itself is benchable: vectors are bucketed into
    ``ceil(n/block_size)`` blocks (id residue), the tiny upper-
    triangular block-pair list joins each block twice, and an Arrow
    kernel computes each B x B cosine tile with numpy ops that are
    VECTORIZED ACROSS PAIRS but SEQUENTIAL OVER DIMS — the same
    left-assoc IEEE fold as functions/vectors.dot's aggregate and
    DuckDB's list_dot_product, so the values are bit-identical to the
    naive path and the same oracle verifies both (the PQ/ADC parity
    trick, operators/similarity.py).

    Still O(n^2) compares BY DEFINITION (it is the exact verifier) but
    with a ~100x better constant than the row-per-pair crossJoin +
    interpreted HOF chain, and a scale-honest shuffle shape: total
    data movement is n*d*8*nblocks bytes (each block meets every
    other block once) instead of a broadcast of the whole corpus.
    Subquadratic variants (simhash/LSH/SemDeDup) remain the 100 TB
    paths; this is the affordable form of their ground truth.
    """
    from pyspark.sql.types import IntegralType

    if not isinstance(df.schema[id_col].dataType, IntegralType):
        # the Arrow kernel packs ids as int64; a silent cast would turn
        # string ids into NULLs, drop them into an unjoinable NULL
        # block, and return an EMPTY result with no error
        raise ValueError(
            f"embedding_neardup_pairs_blocked requires an integral id"
            f" column, got {df.schema[id_col].dataType} for {id_col!r}"
        )
    spark = df.sparkSession
    n = df.count()
    nblocks = max(1, -(-n // block_size))
    # block by HASH of the id, not id % nblocks: ids sharing a residue
    # class (every id a multiple of k) would collapse into one
    # mega-block and recreate the single-task O(n^2) tile the blocking
    # exists to avoid; the hash only routes rows, so the output pairs
    # are unchanged
    v = df.select(
        F.col(id_col).cast("bigint").alias("vid"),
        as_double_array(vec_col).alias("v"),
        F.pmod(
            F.xxhash64(F.col(id_col).cast("string")), F.lit(nblocks)
        ).alias("b"),
    )
    blocks = v.groupBy("b").agg(
        F.collect_list(F.struct("vid", "v")).alias("vecs")
    )
    pair_ids = spark.createDataFrame(
        [(i, j) for i in range(nblocks) for j in range(i, nblocks)],
        "ba bigint, bb bigint",
    )
    bp = (
        F.broadcast(pair_ids)
        .join(blocks.select(F.col("b").alias("ba"), F.col("vecs").alias("wa")), "ba")
        .join(blocks.select(F.col("b").alias("bb"), F.col("vecs").alias("wb")), "bb")
    )
    thr_pre = threshold - 1e-6  # pre-filter margin; exact filter after round

    def kernel(batches):
        import numpy as np
        import pandas as pd

        def unpack(cell):
            ids = np.fromiter(
                (x["vid"] for x in cell), dtype=np.int64, count=len(cell)
            )
            mat = np.vstack(
                [np.asarray(x["v"], dtype=np.float64) for x in cell]
            )
            return ids, mat

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                ida, Va = unpack(row.wa)
                idb, Vb = unpack(row.wb)
                dim = Va.shape[1]
                # sequential-over-dims accumulation: bit-identical to
                # aggregate(zip_with(a,b,*), 0.0, +) per element
                acc = np.zeros((len(ida), len(idb)))
                for d in range(dim):
                    acc += np.multiply.outer(Va[:, d], Vb[:, d])
                na = np.zeros(len(ida))
                nb = np.zeros(len(idb))
                for d in range(dim):
                    na += Va[:, d] * Va[:, d]
                    nb += Vb[:, d] * Vb[:, d]
                nmat = np.multiply.outer(np.sqrt(na), np.sqrt(nb))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(nmat > 0, acc / nmat, 0.0)
                keep = cos >= thr_pre
                if row.ba == row.bb:
                    keep &= ida[:, None] < idb[None, :]
                ii, jj = np.nonzero(keep)
                lo = np.minimum(ida[ii], idb[jj])
                hi = np.maximum(ida[ii], idb[jj])
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(cos[ii, jj])
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a) if out_a else np.array([], np.int64),
                    "id_b": np.concatenate(out_b) if out_b else np.array([], np.int64),
                    "cos_sim": np.concatenate(out_c) if out_c else np.array([], np.float64),
                }
            )

    out = bp.mapInPandas(kernel, "id_a bigint, id_b bigint, cos_sim double")
    return out.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    ).where(F.col("cos_sim") >= threshold)


def simhash_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 16,
    dim: int = 64,
    threshold: float = 0.35,
    seed: int = 42,
) -> DataFrame:
    """Subquadratic near-dup: SimHash sign-bucket candidates (equal
    16-bit signature), then exact cosine verification. Recall trades off
    against n_bits; the shuffle is keyed on the signature (uniform).
    ``dim`` must match the embedding width — enforced per row
    (functions/vectors.checked_dim): a mismatch would silently zero
    every signature and degenerate the bucket join to all-pairs."""
    from cc2dataset_spark.functions.vectors import checked_dim

    planes = random_hyperplanes(dim, n_bits, seed)
    v = df.select(
        F.col(id_col),
        as_double_array(vec_col).alias("v"),
        simhash_signature(
            checked_dim(
                as_double_array(vec_col), dim, "simhash_neardup_pairs"
            ),
            planes,
        ).alias("sig"),
    )
    a = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), "sig")
    b = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), "sig")
    cand = a.join(b, "sig").where(F.col("id_a") < F.col("id_b"))
    cos = cosine_similarity(F.col("va"), F.col("vb"))
    return (
        cand.select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 2,
    max_fp_df: int | None = 100,
) -> DataFrame:
    """Shared-substring near-dup pairs via winnowing fingerprints
    (Schleimer et al., SIGMOD 2003 — the MOSS scheme): two documents
    sharing >= ``min_shared`` winnow fingerprints share that many
    distinct runs of >= window+shingle-1 consecutive tokens. This is
    the LOCAL-overlap complement of MinHash/Jaccard (which measure
    global set resemblance): a long verbatim quotation inside an
    otherwise-different document lights up here and not there — the
    training-data concern (verbatim contamination, boilerplate
    inclusion) that set-resemblance dedup misses.

    Scale shape: fingerprint explode -> stop-fingerprint cap (drop
    fps in > max_fp_df docs; broadcast the SMALL stop list, same
    rationale as exact_jaccard_pairs) -> fp-keyed self-join ->
    pair-keyed count. Bounded-quadratic per fingerprint by the cap,
    like the jaccard ground truth; winnowing keeps ~1/window of the
    shingle stream, so the joined stream is ~4x smaller than the
    jaccard one at the same shingle length.

    Output: (id_a, id_b, n_shared, containment) with containment =
    n_shared / min(|fps_a|, |fps_b|) over the capped fingerprint sets.
    """
    from cc2dataset_spark.functions.text import (
        shingle_hashes,
        winnow_from_hashes,
    )

    hashed = (
        spread_small(df.select(F.col(id_col), F.col(text_col)), ref=df)
        .select(F.col(id_col).alias("did"), shingle_hashes(text_col).alias("h"))
        .where(F.size("h") > 0)
    )
    fps = hashed.select(
        "did", F.explode(winnow_from_hashes(F.col("h"))).alias("fp")
    )
    if max_fp_df is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("df_"))
            .where(F.col("df_") > max_fp_df)
            .select("fp")
        )
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    # Pin ONE fp-keyed exchange that all three downstream consumers
    # (both self-join sides and the per-doc size count) read via
    # ReusedExchange — without it each consumer re-evaluates the
    # md5-shingle+winnow chain from the scan (measured ~30% slower at
    # sf0.1). The join needs this partitioning anyway, so the exchange
    # is not an extra shuffle.
    fps = fps.repartition("fp")
    sizes = fps.groupBy("did").agg(F.count("*").alias("n"))
    common = (
        fps.alias("a")
        .join(fps.alias("b"), "fp")
        .where(F.col("a.did") < F.col("b.did"))
        .groupBy(
            F.col("a.did").alias("id_a"), F.col("b.did").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col("did").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("did").alias("id_b"), F.col("n").alias("nb"))
    cont = ratio_round6(F.col("n_shared"), F.least("na", "nb"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "n_shared", cont.alias("containment"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    neighborhood: int = 4,
    shingle_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernandez & Stolfo, SIGMOD
    1995 — the classic record-linkage blocking method): sort the corpus
    by a clustering key (here the first 3 lowercased tokens), then
    compare each record ONLY to its next ``neighborhood - 1`` records
    in sort order, verifying candidates with exact shingle Jaccard.
    O(n * w) comparisons instead of O(n^2) — the third blocking
    strategy in this module next to LSH (hash-bucket blocking) and
    SimHash (signature blocking); SNM wins when near-dups share
    prefixes (templated titles, versioned documents) and needs no
    hash tuning.

    Scale shape: the global sort rank comes from
    operators/rank.global_row_number (range-repartition + prefix-sum —
    NEVER an unpartitioned ROW_NUMBER window), the neighbor join is an
    equi-join on rn + offset (offset exploded 1..w-1, so w-1 narrow
    copies of the ranked stream, no theta join), and verification
    touches only the w-1 neighbors per row. The rank's pinned
    intermediate is registered with cc2dataset_spark.caching (released
    between catalog queries); ``_pinned_intermediates`` is also
    stacked for callers wanting the memory back sooner via
    rank.release(result)."""
    from cc2dataset_spark.operators.rank import global_row_number

    if neighborhood < 2:
        # sequence(1, neighborhood-1) runs DESCENDING when start >
        # stop (sequence(1,0) = [1,0]), and offset 0 would join every
        # row to ITSELF — a jaccard-1.0 self-pair per document —
        # instead of the "no comparisons" a w<2 caller asked for
        raise ValueError(
            f"neighborhood must be >= 2 (w-1 neighbors per row),"
            f" got {neighborhood}"
        )
    base = spread_small(
        df.select(F.col(id_col), F.col(text_col)), ref=df
    ).select(
        F.col(id_col).alias("did"),
        F.array_join(
            F.slice(tokens(F.lower(F.col(text_col))), 1, 3), " "
        ).alias("skey"),
        F.array_distinct(word_shingles(text_col, shingle_words)).alias("sh"),
    ).where(F.size("sh") > 0)
    ranked = global_row_number(base, ["skey", "did"], rank_col="rn")
    left = ranked.select(
        F.col("did").alias("da"),
        F.col("sh").alias("sa"),
        F.col("rn"),
        F.explode(F.sequence(F.lit(1), F.lit(neighborhood - 1))).alias("off"),
    ).select(
        "da", "sa", (F.col("rn") + F.col("off")).alias("rn_b")
    )
    right = ranked.select(
        F.col("did").alias("db"), F.col("sh").alias("sb"), F.col("rn").alias("rn_b")
    )
    joined = left.join(right, "rn_b")
    sized = joined.select(
        F.least("da", "db").alias("id_a"),
        F.greatest("da", "db").alias("id_b"),
        F.size(F.array_intersect("sa", "sb")).alias("c"),
        (F.size("sa") + F.size("sb")).alias("ab"),
    )
    jac = ratio_round6(F.col("c"), F.col("ab") - F.col("c"))
    out = sized.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).where(F.col("jaccard") >= threshold)
    out._pinned_intermediates = list(
        getattr(ranked, "_pinned_intermediates", [])
    )
    return out
