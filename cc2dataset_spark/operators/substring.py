"""Suffix-array-style exact substring dedup (scale extension; no
reference twin — the reference, like most ETL-layer engines, stops at
document-level dedup).

Implements the substring-deduplication operator of Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better", §4.1
ExactSubstr): find every maximal token span of length >= ``min_len``
that occurs verbatim more than once anywhere in the corpus (across OR
within documents), so callers can drop the repeated spans instead of
whole documents. The paper builds one suffix array over the
concatenated corpus and linearly scans sorted-adjacent suffix pairs
for long common prefixes; this module is the distributed Spark
rendition of exactly that pipeline:

1. **Suffix generation** — each token position becomes one row
   carrying a K-token *truncated* suffix key (K = min_len + ext).
   Truncation is what makes the suffix sort distributable: a full
   suffix is O(document) bytes, a truncated one is O(K), and it is
   exact for threshold detection (proof below) — the same reason Lee
   et al. can cap their LCP scan at the longest match they act on.
2. **Global suffix ordering** — ONE range exchange on the key (the
   same repartitionByRange-with-sampled-boundaries pattern as
   operators/rank.py global_row_number) + sortWithinPartitions. This
   is the only corpus-scale data movement in the whole operator.
3. **Adjacent-pair scan** — a single Arrow-batched mapInPandas pass
   over the sorted partitions compares each suffix with its
   predecessor (lcp >= min_len <=> equal min_len-prefix) and emits
   the duplicated positions; each partition also emits its first and
   last row, and a single bounded window over that <= 2 x #partitions
   seam frame resolves the cross-partition adjacent pairs (the same
   "<= #partitions rows, never corpus-scale" discipline as rank.py's
   offsets frame). A rank-then-self-join-on-rank formulation of the
   same scan measured ~2x slower at sf0.1 (the unpersisted ranked
   frame is evaluated once per join side, and the join re-shuffles
   the full suffix stream twice); the partition-local scan reads the
   exchange output exactly once and moves nothing else. The scan
   OUTPUT (duplicated positions + 2 seam rows per partition — never
   the suffix stream) is persisted because two consumers read it;
   without the pin each would re-run the whole corpus-scale chain
   (plan-asserted: tests/test_substring.py).
4. **Mark + merge** — every duplicated position starts a window
   [pos, pos + min_len); per-document gaps-and-islands merges
   overlapping windows into maximal spans. The merge windows
   partition by doc_id, bounded by document length — never
   corpus-scale.

Exactness of truncation + adjacency (why this equals the full
suffix-array scan for the >= min_len predicate):

* *Sound*: a marked position shares its first min_len tokens with a
  DIFFERENT suffix, so its min_len-gram occurs >= 2 times.
* *Complete*: if the span starting at position p is duplicated with
  length m >= min_len, then every position q in [p, p + m - min_len]
  has a duplicated min_len-gram. All suffixes sharing q's
  min_len-prefix form a CONTIGUOUS run under the lexicographic sort
  of the (array-typed) truncated keys — any sequence ordered between
  two sequences that share a prefix shares that prefix — so q's
  suffix is sort-adjacent to another run member (within a partition
  or across the seam, both scanned). The union of the marked windows
  [q, q + min_len) over q in [p, p + m - min_len] is exactly
  [p, p + m): coverage is identical to the full-LCP scan, for ANY
  ext >= 0 and ANY placement of the range-partition boundaries.

The same equivalence gives the cross-engine oracle a fully
independent formulation (count duplicated min_len-grams) — the two
engines agree via a theorem, not by replaying each other's plan.

Two exchange keys (``key=``), the verifier/production twin
discipline of operators/neardup.py (exact PPJoin vs LSH):

* ``"tokens"`` (exact verifier): the K-token array itself is the
  range key. Exact by construction, but the exchange ships ~min_len
  tokens PER CORPUS POSITION — ~50x corpus bytes at the Lee et al.
  production threshold L=50. Fine at fixture scale; a scale-killer
  at 100 TB.
* ``"fingerprint"`` (production): the range key is a 128-bit
  STRUCTURAL hash of the min_len-gram — two distinct-salt xxhash64
  words computed directly over the token ARRAY (salt hashed FIRST in
  the lo word, so the gram runs under a distinct seed chain rather
  than fold-chaining off the hi word; Spark's array hash folds
  element boundaries into the state, so there is no concatenation
  ambiguity to defend against) — and the exchange
  carries 2 x BIGINT + (doc_id, pos) per position, ~20x less than
  the token array at L=50. Measured at sf0.1 (key projection +
  range exchange + sort, warm): xxhash64-pair 1.0 s vs token-array
  1.3 s vs an md5-over-length-prefixed-string variant 3.4 s — the
  md5 string-building chain was CPU-bound and the range SAMPLER
  evaluates the key expression twice, which is why the cheap
  structural hash wins at fixture scale too, not just on bytes.
  The adjacency theorem TRANSFERS: the scan predicate is
  min_len-prefix EQUALITY, equal grams have equal fingerprints, and
  equal fingerprints form contiguous runs under any total order on
  (hi, lo) — the proof above never used lexicographic-on-tokens
  beyond contiguity of equal keys. The new acceptance is a
  fingerprint collision (two DIFFERENT grams marked duplicated) at
  ~2^-128 per pair under the model that treats the two distinct-seed
  xxhash64 words as independent random functions — a MODEL, not a
  guarantee (they are two evaluations of one non-cryptographic
  family), but the same acceptance the repo's document-level md5-uid
  dedup (reference parity) runs on, and the seed-chain ordering
  above ensures the words at least never collapse to a function of
  each other; xxhash64 is not adversarially collision-resistant, but
  dedup inputs are not adversarial and the verifier twin exists for
  exactly the paranoid case. Hot keys (a massively duplicated gram —
  boilerplate at web scale) stay SPLITTABLE because the range keys
  include the (doc_id, pos) tie-break and the seam window joins runs
  across partition boundaries — a hash-partitioned alternative would
  pin each hot gram to one partition. The two BIGINT key columns
  also make the adjacent scan a pure vectorized numpy pass (int64
  shift-compare) instead of a per-row Python loop. Both modes are
  brute-force- and cross-checked equal (tests/test_substring.py).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from cc2dataset_spark.functions import text as T
from cc2dataset_spark.operators.partitioning import spread_small


def _adjacent_scan(min_len: int):
    """Kernel for the sorted-partition scan (token-array keys): one
    pass, O(1) state.

    Emits kind 'm' rows for positions whose suffix shares a
    min_len-prefix with its in-partition predecessor (both sides of
    each qualifying pair, each position at most once), plus kind
    'f'/'l' rows carrying the partition's first/last suffix so the
    driver-side-free seam window can test the cross-partition pairs.
    """

    def scan(batches: Iterator) -> Iterator:
        import pandas as pd

        prev = None  # (min_len-prefix tuple, doc, pos)
        prev_marked = False
        first = None
        pid = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
            keys = [tuple(k[:min_len]) for k in pdf["skey"]]
            docs_ = pdf["doc_id"].tolist()
            poss = pdf["pos"].tolist()
            if first is None:
                first = (docs_[0], poss[0], list(keys[0]))
            m_doc, m_pos = [], []
            for i in range(len(keys)):
                if prev is not None and prev[0] == keys[i]:
                    if not prev_marked:
                        m_doc.append(prev[1])
                        m_pos.append(prev[2])
                    m_doc.append(docs_[i])
                    m_pos.append(poss[i])
                    prev_marked = True
                else:
                    prev_marked = False
                prev = (keys[i], docs_[i], poss[i])
            if m_doc:
                yield pd.DataFrame(
                    {
                        "kind": "m",
                        "_pid": pid,
                        "doc_id": m_doc,
                        "pos": m_pos,
                        "skey": None,
                    }
                )
        if first is not None:
            yield pd.DataFrame(
                {
                    "kind": ["f", "l"],
                    "_pid": [pid, pid],
                    "doc_id": [first[0], prev[1]],
                    "pos": [first[1], prev[2]],
                    "skey": [first[2], list(prev[0])],
                }
            )

    return scan


def _adjacent_scan_fp():
    """Fingerprint-mode kernel: the (skey_hi, skey_lo) BIGINT pair IS
    the min_len-prefix witness, so adjacency is a pure vectorized
    int64 shift-compare — no per-row Python.

    Marking semantics match _adjacent_scan exactly: within a batch,
    eq[i] says row i equals row i-1; a row is marked if it equals its
    predecessor (eq[i]) or its successor starts a run (eq[i+1] and
    not eq[i]); the cross-batch predecessor rides (prev, prev_marked)
    scalar state.
    """

    def scan(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        prev = None  # (hi, lo, doc, pos)
        prev_marked = False
        first = None
        pid = None
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
            hi = pdf["skey_hi"].to_numpy()
            lo = pdf["skey_lo"].to_numpy()
            docs_ = pdf["doc_id"].to_numpy()
            poss = pdf["pos"].to_numpy()
            if first is None:
                first = (docs_[0], poss[0], int(hi[0]), int(lo[0]))
            eq = np.empty(n, dtype=bool)
            eq[0] = (
                prev is not None
                and prev[0] == hi[0]
                and prev[1] == lo[0]
            )
            if n > 1:
                eq[1:] = (hi[1:] == hi[:-1]) & (lo[1:] == lo[:-1])
            # rows equal to their predecessor, plus run-starting
            # predecessors (i-1 where eq[i] & ~eq[i-1]); union dedups
            cur = np.flatnonzero(eq)
            starts = np.flatnonzero(eq[1:] & ~eq[:-1])
            idx = np.union1d(cur, starts)
            extra = eq[0] and not prev_marked  # cross-batch prev row
            if len(idx) or extra:
                m_doc = list(docs_[idx])
                m_pos = list(poss[idx])
                if extra:
                    m_doc.insert(0, prev[2])
                    m_pos.insert(0, prev[3])
                yield pd.DataFrame(
                    {
                        "kind": "m",
                        "_pid": pid,
                        "doc_id": m_doc,
                        "pos": m_pos,
                        "skey_hi": None,
                        "skey_lo": None,
                    }
                )
            prev = (int(hi[-1]), int(lo[-1]), docs_[-1], poss[-1])
            prev_marked = bool(eq[-1])
        if first is not None:
            yield pd.DataFrame(
                {
                    "kind": ["f", "l"],
                    "_pid": [pid, pid],
                    "doc_id": [first[0], prev[2]],
                    "pos": [first[1], prev[3]],
                    "skey_hi": [first[2], prev[0]],
                    "skey_lo": [first[3], prev[1]],
                }
            )

    return scan


def duplicate_substring_spans(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    ext: int = 0,
    num_partitions: int | None = None,
    key: str = "tokens",
) -> DataFrame:
    """Maximal duplicated token spans of length >= ``min_len``.

    Returns one row per maximal span: (doc_id, span_start, span_end,
    span_len) with 1-based inclusive token indices, all BIGINT. A
    span is emitted iff every min_len-window inside it occurs
    verbatim (token-exact) somewhere else in the corpus — the set a
    substring-dedup pass would cut (Lee et al. 2022 drop the repeated
    occurrence and keep one).

    ``key`` picks the exchange key (module docstring): ``"tokens"``
    ships the K-token array (exact verifier twin), ``"fingerprint"``
    ships a 128-bit structural hash of the min_len-gram as two
    distinct-salt xxhash64 BIGINTs (production path: ~20x fewer
    exchange bytes at L=50, vectorized scan kernel, collision
    acceptance ~2^-128 under the independent-words model).

    ``ext`` pads the truncated suffix keys past the threshold; any
    ext >= 0 yields identical output (the scan predicate is
    min_len-prefix equality — see the module docstring proof), so the
    default keeps the exchange minimal. Ignored under
    ``key="fingerprint"`` (the fingerprint witnesses exactly the
    min_len-prefix). Documents shorter than min_len tokens emit no
    suffixes and never appear.
    """
    if min_len < 1:
        raise ValueError(f"min_len must be >= 1, got {min_len}")
    if ext < 0:
        raise ValueError(f"ext must be >= 0, got {ext}")
    if key not in ("tokens", "fingerprint"):
        raise ValueError(
            f"key must be 'tokens' or 'fingerprint', got {key!r}"
        )
    fingerprint = key == "fingerprint"
    k = min_len + ext

    doc_id_type = docs.schema[doc_id_col].dataType
    # The tokenize+explode suffix build is the corpus-scale CPU stage
    # and it runs TWICE (the range sampler evaluates it once more).
    toked = spread_small(
        docs.select(
            F.col(doc_id_col).alias("doc_id"), F.col(text_col)
        ),
        "doc_id",
        ref=docs,
    ).select(
        "doc_id", T.tokens(text_col).alias("t")
    ).where(F.size("t") >= min_len)
    explode_pos = F.explode(
        F.sequence(F.lit(1), F.size("t") - F.lit(min_len - 1))
    ).alias("pos")
    if fingerprint:
        # 128-bit STRUCTURAL fingerprint: two distinct-salt xxhash64
        # words over the token-array slice. Spark's array hash folds
        # element boundaries into the state, so no string join (and
        # no separator/extension ambiguity) exists at all; measured
        # 3.4x cheaper warm than an md5-over-encoded-string variant
        # at sf0.1 — and the range SAMPLER evaluates this expression
        # a second time, doubling whatever it costs.
        #
        # Salt ORDER is load-bearing: Spark fold-chains multi-column
        # xxhash64 (each column's hash seeds the next), so
        # xxhash64(gram, lit(1)) would be XXH64(1, seed=hi) — a
        # deterministic function of skey_hi, collapsing the pair to
        # 64 bits of entropy. Hashing the salt FIRST puts the gram
        # under a distinct seed chain (seed = XXH64(1, seed=42)), so
        # the two words are different hash functions of the gram.
        gram = F.expr(f"slice(t, pos, {min_len})")
        suf = toked.select("doc_id", explode_pos, "t").select(
            "doc_id",
            "pos",
            F.xxhash64(gram).alias("skey_hi"),
            F.xxhash64(F.lit(1), gram).alias("skey_lo"),
        )
        key_cols = ["skey_hi", "skey_lo"]
    else:
        suf = toked.select("doc_id", explode_pos, "t").select(
            "doc_id", "pos", F.expr(f"slice(t, pos, {k})").alias("skey")
        )
        key_cols = ["skey"]
    # The one corpus-scale stage: a sampled range exchange on the key
    # (token mode keeps the array-typed key — a joined-string key
    # would let a token that string-extends another sort inside an
    # equal-prefix run and break the contiguity proof; fingerprint
    # mode orders on the (hi, lo) pair, where contiguity of equal
    # keys holds under ANY total order), then a partition-local sort.
    # (doc_id, pos) tie-breaks keep the scan order deterministic AND
    # keep hot equal-key runs splittable across partitions (the seam
    # window rejoins them); _pid is projected AFTER the exchange so
    # the seam window can stitch partitions back in range order.
    keys = [F.col(c) for c in key_cols] + [F.col("doc_id"), F.col("pos")]
    if num_partitions is None:
        ranged = suf.repartitionByRange(*keys)
    else:
        ranged = suf.repartitionByRange(num_partitions, *keys)
    ranged = ranged.sortWithinPartitions(*keys).withColumn(
        "_pid", F.spark_partition_id()
    )
    key_fields = (
        [
            ST.StructField("skey_hi", ST.LongType()),
            ST.StructField("skey_lo", ST.LongType()),
        ]
        if fingerprint
        else [ST.StructField("skey", ST.ArrayType(ST.StringType()))]
    )
    scan_schema = ST.StructType(
        [
            ST.StructField("kind", ST.StringType()),
            ST.StructField("_pid", ST.IntegerType()),
            ST.StructField("doc_id", doc_id_type),
            ST.StructField("pos", ST.IntegerType()),
        ]
        + key_fields
    )
    kernel = _adjacent_scan_fp() if fingerprint else _adjacent_scan(min_len)
    scanned = ranged.mapInPandas(kernel, scan_schema)
    # Two consumers read the scan output (the mark stream and the
    # seam frame) — without a pin each would re-run the ENTIRE
    # corpus-scale chain (scan + range exchange + sort + kernel).
    # The scan output is the cheap thing to hold: duplicated
    # positions + 2 rows per partition, never the suffix stream.
    from pyspark.storagelevel import StorageLevel

    from cc2dataset_spark import caching

    scanned = caching.track(
        scanned.persist(StorageLevel.MEMORY_AND_DISK)
    )

    marks = scanned.where(F.col("kind") == "m").select("doc_id", "pos")
    # Seam resolution: <= 2 rows per partition. In (_pid, kind) order
    # the frame reads f0 l0 f1 l1 ... (empty partitions emit
    # nothing), so each cross-partition adjacent pair is exactly an
    # 'l' row followed by the next 'f' row. The single-partition
    # window is bounded by 2 x #partitions rows — the rank.py offsets
    # discipline, never corpus-scale.
    w_seam = Window.orderBy("_pid", "kind")
    seam = (
        scanned.where(F.col("kind") != "m")
        .select("kind", "_pid", "doc_id", "pos", *key_cols)
        .withColumn("_nkind", F.lead("kind").over(w_seam))
        .withColumn("_ndoc", F.lead("doc_id").over(w_seam))
        .withColumn("_npos", F.lead("pos").over(w_seam))
    )
    if fingerprint:
        seam = seam.withColumn(
            "_nhi", F.lead("skey_hi").over(w_seam)
        ).withColumn("_nlo", F.lead("skey_lo").over(w_seam))
        seam_eq = (F.col("skey_hi") == F.col("_nhi")) & (
            F.col("skey_lo") == F.col("_nlo")
        )
    else:
        seam = seam.withColumn("_nkey", F.lead("skey").over(w_seam))
        seam_eq = F.slice("skey", 1, min_len) == F.slice(
            "_nkey", 1, min_len
        )
    seam_pairs = seam.where(
        (F.col("kind") == "l") & (F.col("_nkind") == "f") & seam_eq
    )
    seam_marks = seam_pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_id").alias("doc_id"),
                    F.col("pos").alias("pos"),
                ),
                F.struct(
                    F.col("_ndoc").alias("doc_id"),
                    F.col("_npos").alias("pos"),
                ),
            )
        ).alias("m")
    ).select("m.doc_id", "m.pos")

    all_marks = marks.unionByName(seam_marks).distinct()
    # Gaps-and-islands merge of the [pos, pos + min_len - 1] windows.
    # partitionBy(doc_id) is safe at any corpus size: window state is
    # bounded by a single document's token count.
    spanned = all_marks.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("s"),
        (F.col("pos") + F.lit(min_len - 1)).cast("bigint").alias("e"),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = (
        F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-2)) + 1
    ).cast("int")
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = spanned.withColumn("_brk", brk).withColumn(
        "_island", F.sum("_brk").over(w_run)
    )
    out = (
        islands.groupBy("doc_id", "_island")
        .agg(
            F.min("s").cast("bigint").alias("span_start"),
            F.max("e").cast("bigint").alias("span_end"),
            (F.max("e") - F.min("s") + 1)
            .cast("bigint")
            .alias("span_len"),
        )
        .drop("_island")
    )
    # Released by the catalog's generation tracker; direct callers
    # running many of these in one session can unpersist these frames
    # after the final action on the result.
    out._pinned_intermediates = [scanned]
    return out
