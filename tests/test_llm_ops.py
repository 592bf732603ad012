"""Quality checks for the approximate (rows-only) LLM ops against their
exact counterparts: LSH recall, ANN hit-rate, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from cc2dataset_spark.operators import multimodal as MM
from cc2dataset_spark.operators import neardup as ND
from cc2dataset_spark.operators import similarity as SIM
from cc2dataset_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_minhash_recall_vs_exact(docs):
    exact = {
        (r.id_a, r.id_b) for r in ND.exact_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in ND.minhash_neardup_pairs(docs, threshold=0.5).collect()
    }
    assert exact, "fixture should contain planted near-dups"
    # verification makes LSH precision exact; recall must be high
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"MinHash LSH recall too low: {recall:.2f}"


def test_simhash_pairs_subset_of_bruteforce(emb):
    exact = {
        (r.id_a, r.id_b)
        for r in ND.embedding_neardup_pairs(emb, threshold=0.35).collect()
    }
    bucketed = {
        (r.id_a, r.id_b)
        for r in ND.simhash_neardup_pairs(emb, threshold=0.35).collect()
    }
    assert bucketed <= exact


def test_ann_simhash_hits_exact_neighbors(emb):
    q = emb.where(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in SIM.brute_force_topk(q, emb, k=3).collect()
    }
    approx = SIM.simhash_ann_topk(q, emb, k=3).collect()
    assert len(approx) > 0
    # correctness-within-approximation: every reported similarity must
    # equal the exact cosine for that pair (the approximation restricts
    # the candidate set, never the arithmetic)
    all_sims = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in SIM.brute_force_topk(q, emb, k=emb.count()).collect()
    }
    for r in approx:
        assert all_sims[(r.query_id, r.neighbor_id)] == r.cos_sim
    # and no reported neighbor may beat the exact top-1
    best = {}
    for (qid, _), s in all_sims.items():
        best[qid] = max(best.get(qid, -2.0), s)
    for r in approx:
        assert r.cos_sim <= best[r.query_id]


def test_knn_vote_deterministic(emb):
    a = {tuple(r) for r in SIM.knn_label_vote(emb.where(F.col("vec_id") < 50), emb).collect()}
    b = {tuple(r) for r in SIM.knn_label_vote(emb.where(F.col("vec_id") < 50), emb).collect()}
    assert a == b


def test_multimodal_decode_shapes(docs):
    decoded = MM.decode_media(MM.attach_binary_payload(docs))
    rows = decoded.collect()
    assert len(rows) == docs.count()
    for r in rows[:20]:
        assert r.width >= 64 and r.height >= 64 and r.n_frames >= 1
        assert r.format in ("png", "jpeg", "webp")
        assert r.n_bytes > 0
    # deterministic stub: re-run yields identical frame
    again = {tuple(r) for r in MM.decode_media(MM.attach_binary_payload(docs)).collect()}
    assert {tuple(r) for r in rows} == again


def test_decode_stub_requires_payload():
    with pytest.raises(NotImplementedError):
        MM.decode_stub(None, "png")


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing contract (window w over k-gram hashes): two
    documents sharing a run of >= w + k - 1 tokens share at least one
    fingerprint; unrelated documents share none."""
    from cc2dataset_spark.functions.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens >= 4+3-1
    rows = [
        (1, "xx yy " + shared + " zz"),
        (2, shared + " completely different tail here"),
        (3, "nothing in common with the others at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fps = {
        r.doc_id: set(r.f)
        for r in df.select(
            "doc_id", winnow_fingerprints("text").alias("f")
        ).collect()
    }
    assert fps[1] & fps[2], "shared run must share a fingerprint"
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])


def test_winnow_short_doc_single_fingerprint(spark):
    from cc2dataset_spark.functions.text import winnow_fingerprints

    rows = [(1, "only three words here"), (2, "ab"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: list(r.f)
        for r in df.select(
            "doc_id", winnow_fingerprints("text").alias("f")
        ).collect()
    }
    assert len(got[1]) == 1  # 2 shingles < window -> one global min
    assert got[2] == [] and got[3] == []


def test_multimodal_resize_and_frames_and_features(docs, spark):
    """Resize keeps one row per doc at the target dims; frame sampling
    is 1->N with ceil(n_frames/k) rows; features are unit-norm vectors
    — all deterministic across runs."""
    wrapped = MM.attach_binary_payload(docs)
    resized = MM.resize_media(wrapped, width=128, height=96)
    rows = resized.collect()
    assert len(rows) == docs.count()
    assert all(r.width == 128 and r.height == 96 for r in rows)

    decoded = MM.decode_media(wrapped).join(
        wrapped.select("doc_id", "payload"), "doc_id"
    )
    frames = MM.sample_frames(decoded, every_k=7)
    per_doc = {r.doc_id: r.n for r in frames.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()}
    n_frames = {r.doc_id: r.n_frames for r in decoded.select("doc_id", "n_frames").collect()}
    import math

    assert per_doc == {d: math.ceil(n / 7) for d, n in n_frames.items()}

    feats = MM.extract_features(wrapped)
    import numpy as np

    vals = feats.collect()
    assert len(vals) == docs.count()
    for r in vals[:20]:
        v = np.array(r.feature)
        assert len(v) == 8
        assert abs(np.linalg.norm(v) - 1.0) < 1e-9

    again = {tuple(r.feature) for r in MM.extract_features(wrapped).collect()}
    assert {tuple(r.feature) for r in vals} == again


def test_countmin_overestimates_only_and_tight_when_sparse(spark, sf_dir):
    """The Count-Min guarantee: estimate >= exact for every key; with
    far fewer keys than buckets, estimates should be exact for most
    keys (no collisions)."""
    from cc2dataset_spark.operators.sketches import (
        countmin_build,
        countmin_estimate,
    )
    from cc2dataset_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    sketch = countmin_build(e, "event_type", depth=4, width=256)
    assert sketch.count() <= 4 * 256
    est = {
        r.event_type: r.cm_estimate
        for r in countmin_estimate(
            sketch, e.select("event_type").distinct(), "event_type"
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert set(est) == set(exact)
    for k in exact:
        assert est[k] >= exact[k], k
    tight = sum(1 for k in exact if est[k] == exact[k])
    assert tight >= len(exact) * 0.5


def test_connected_components_matches_union_find(spark):
    """Min-label propagation == union-find on a graph with a chain, a
    triangle, a 2-clique, and implicit singleton exclusion."""
    from cc2dataset_spark.operators.components import (
        cluster_survivors,
        connected_components,
    )

    edges = [
        (1, 2), (2, 3), (3, 4),          # chain -> component 1
        (10, 11), (11, 12), (10, 12),    # triangle -> component 10
        (20, 21),                        # pair -> component 20
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {
        r.id: r.component for r in connected_components(df).collect()
    }
    assert got == want

    universe = spark.createDataFrame(
        [(i,) for i in list(want) + [99]], "doc_id int"
    )
    surv = {
        r.doc_id: (r.component_id, r.is_survivor)
        for r in cluster_survivors(universe, df, "doc_id").collect()
    }
    assert surv[99] == (99, True)  # singleton survives as own component
    assert surv[4] == (1, False)
    assert surv[1] == (1, True)
    assert surv[12] == (10, False)
    assert surv[20] == (20, True)


def test_pii_redact_email_before_digits(spark):
    """An email whose local part carries a 7+ digit run must redact as
    ONE <EMAIL>, not a mangled half-address; standalone runs and
    mixed-text cases keep their own placeholders."""
    from cc2dataset_spark.functions.text import (
        EMAIL_RE,
        LONG_DIGITS_RE,
        pattern_count,
        pii_redact,
    )
    from pyspark.sql import functions as F

    rows = [
        ("write 12345678@example.com or call 987654321", "<EMAIL>", 1, 2),
        ("no pii here", "no pii here", 0, 0),
        ("just 1234567", "just <NUM>", 0, 1),
    ]
    df = spark.createDataFrame([(t,) for t, _, _, _ in rows], ["s"])
    got = {
        r.s: (r.red, r.ne, r.nd)
        for r in df.select(
            "s",
            pii_redact("s").alias("red"),
            pattern_count("s", EMAIL_RE).alias("ne"),
            pattern_count("s", LONG_DIGITS_RE).alias("nd"),
        ).collect()
    }
    for text, frag, ne, nd in rows:
        red, g_ne, g_nd = got[text]
        assert frag in red, (text, red)
        assert "@" not in red
        assert (g_ne, g_nd) == (ne, nd), (text, g_ne, g_nd)


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark shingle side must broadcast (corpus never
    shuffles for the probe) and hit counts must follow the injected
    1 + doc_id % 5 overlap."""
    from cc2dataset_spark.plans.catalog import QUERIES, _load_all

    _load_all()
    df = QUERIES["curate_decontaminate"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = {r.doc_id: r.n_hit_shingles for r in df.collect()}
    assert got, "no contaminated docs found"
    for doc_id, n in got.items():
        assert doc_id % 7 == 0
        assert n == 1 + doc_id % 5, (doc_id, n)


@pytest.mark.slow
def test_twophase_components_match_union_find(spark):
    """Large-star/small-star must agree with union-find on random
    graphs AND on the long-path shape that defeats bounded-round
    propagation."""
    import random

    from cc2dataset_spark.operators.components import (
        connected_components_twophase,
    )

    def union_find(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    rng = random.Random(7)
    cases = [
        [(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(50)],
        [(i, i + 1) for i in range(64)],  # path: diameter 64
        [(0, i) for i in range(1, 20)]
        + [(100 + i, 101 + i) for i in range(10)],
    ]
    for edges in cases:
        want = union_find(edges)
        non_self = {
            k
            for a, b in edges
            if a != b
            for k in (a, b)
        }
        want = {k: v for k, v in want.items() if k in non_self}
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r.id: r.component
            for r in connected_components_twophase(df).collect()
        }
        assert got == want


@pytest.mark.slow
def test_propagation_raises_instead_of_mislabeling_long_paths(spark):
    """A component with diameter > max_iter must fail loudly — bounded
    propagation previously returned silently wrong labels there."""
    import pytest as _pytest

    from cc2dataset_spark.operators.components import connected_components

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    # driver_threshold=0 forces the distributed propagation loop (the
    # adaptive default would solve this tiny graph on the driver)
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(path, max_iter=10, driver_threshold=0)
    # the escape hatches all work: a big-enough budget...
    ok = connected_components(path, max_iter=70, driver_threshold=0)
    assert {r.component for r in ok.collect()} == {0}
    # ...and the adaptive driver path, which has no diameter limit
    ok2 = connected_components(path, max_iter=10)
    assert {r.component for r in ok2.collect()} == {0}


def test_twophase_raises_instead_of_partial_contraction(spark):
    """Exhausting the round budget mid-contraction must fail loudly,
    mirroring the propagation variant's contract."""
    import pytest as _pytest

    from cc2dataset_spark.operators.components import (
        connected_components_twophase,
    )

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_twophase(path, max_iter=1)


def test_semantic_dedup_drops_subset_of_exact_components(emb):
    """SemDeDup restricts pair search to within-cluster candidates, so
    (a) its non-survivors must be a subset of the exact all-pairs
    cosine clustering's non-survivors at the same threshold, and (b) it
    must still drop a substantial fraction of them on the fixture
    (planted near-dups are embedding-close, hence usually co-clustered)."""
    from cc2dataset_spark.operators.components import cluster_survivors

    exact_pairs = ND.embedding_neardup_pairs(emb, threshold=0.35).select(
        "id_a", "id_b"
    )
    exact = cluster_survivors(emb, exact_pairs, "vec_id")
    exact_dropped = {
        r.vec_id for r in exact.where(~F.col("is_survivor")).collect()
    }
    sem = SIM.semantic_dedup(emb, threshold=0.35, n_lists=8, n_assign=3)
    sem_dropped = {r.vec_id for r in sem.where(~F.col("is_survivor")).collect()}
    assert sem_dropped, "fixture should contain semantic near-dups"
    assert sem_dropped <= exact_dropped
    assert len(sem_dropped) >= 0.9 * len(exact_dropped), (
        f"semantic dedup recall too low: {len(sem_dropped)}/{len(exact_dropped)}"
    )


def test_semantic_dedup_single_cluster_equals_exact(emb):
    """With n_lists=1 every vector shares the one cluster, so SemDeDup
    degenerates to the exact all-pairs clustering — the candidates->
    verify kernel must reproduce it row-for-row."""
    from cc2dataset_spark.operators.components import cluster_survivors

    exact_pairs = ND.embedding_neardup_pairs(emb, threshold=0.35).select(
        "id_a", "id_b"
    )
    exact = {
        tuple(r)
        for r in cluster_survivors(emb, exact_pairs, "vec_id").collect()
    }
    sem = {
        tuple(r)
        for r in SIM.semantic_dedup(
            emb, threshold=0.35, n_lists=1, n_assign=1
        ).collect()
    }
    assert sem == exact


def test_adaptive_and_distributed_components_agree(spark):
    """The driver union-find branch and the forced distributed
    propagation branch must produce identical labelings on an
    arbitrary mixed graph (cliques + chains + singletons-by-self-loop
    absence)."""
    import random

    from cc2dataset_spark.operators.components import connected_components

    rng = random.Random(7)
    edges = []
    base = 0
    for size in [2, 3, 5, 8, 1, 4]:
        nodes = list(range(base, base + size))
        # random spanning chain + a few extra random edges
        for i in range(1, size):
            edges.append((nodes[i - 1], nodes[i]))
        for _ in range(size // 2):
            edges.append((rng.choice(nodes), rng.choice(nodes)))
        base += size + 3  # gap so components stay distinct
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = {tuple(r) for r in connected_components(df).collect()}
    slow = {
        tuple(r)
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert fast == slow and fast


def test_cluster_survivors_empty_edges_all_survive(spark):
    """No near-dup pairs => every universe row is its own surviving
    component (exercises the union-find branch's empty-collect path)."""
    from cc2dataset_spark.operators.components import cluster_survivors

    uni = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    edges = spark.createDataFrame([], "id_a long, id_b long")
    got = sorted(map(tuple, cluster_survivors(uni, edges, "doc_id").collect()))
    assert got == [(1, 1, True), (2, 2, True), (3, 3, True)]


def test_pq_topk_recall_floor_and_determinism(spark, sf_dir):
    """PQ with an untrained md5-sampled codebook (the SQL-replayable
    registered form) is a coarse quantizer: recall@3 vs exact L2 is
    honestly LOW on the dense gaussian fixture (~0.13 measured; pinned
    floor 0.08) — production raises it with trained codebooks, larger
    K*M, and IVF-PQ re-ranking, none of which change the plan shape
    proven here. What the registered form guarantees instead is exact
    cross-engine replayability (oracle) and determinism (asserted)."""
    import numpy as np

    from cc2dataset_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    cb = SIM.pq_codebook(emb)
    out = SIM.pq_topk(emb.where(F.col("vec_id") < 20), emb, cb, k=3)
    rows = out.collect()
    pq = {}
    for r in rows:
        pq.setdefault(r.query_id, set()).add(r.neighbor_id)
    X = np.array(
        [r.embedding for r in emb.orderBy("vec_id").collect()], dtype="float64"
    )
    hits = tot = 0
    for qid in range(20):
        d = ((X - X[qid]) ** 2).sum(axis=1)
        d[qid] = np.inf
        exact = set(np.argsort(d, kind="stable")[:3].tolist())
        hits += len(exact & pq[qid])
        tot += 3
    assert hits / tot >= 0.08
    again = {tuple(r) for r in out.collect()}
    assert again == {tuple(r) for r in rows}


def test_ivfpq_scores_agree_with_pq(spark, sf_dir):
    """IVF-PQ = PQ ranking over an IVF-pruned candidate set: for every
    returned (query, neighbor), the ADC score must equal the plain PQ
    score for that pair bit-for-bit (same codes, same tables), and the
    pruned top-k can only lose candidates, never invent them."""
    from cc2dataset_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    cb = SIM.pq_codebook(emb)
    q = emb.where(F.col("vec_id") < 5)
    full = {
        (r.query_id, r.neighbor_id): r.adc_sqdist
        for r in SIM.pq_topk(q, emb, cb, k=100).collect()
    }
    pruned = SIM.ivfpq_topk(q, emb, cb, k=3).collect()
    assert len(pruned) > 0
    for r in pruned:
        key = (r.query_id, r.neighbor_id)
        if key in full:  # pair survived into PQ's top-100 too
            assert full[key] == r.adc_sqdist


def test_pq_codebook_validates_dim(spark, sf_dir):
    from cc2dataset_spark.operators import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        SIM.pq_codebook(emb, dim=65, n_sub=4)
    with pytest.raises(ValueError, match="components"):
        SIM.pq_codebook(emb, dim=32, n_sub=4)


def test_pq_codebook_raises_on_short_corpus(spark):
    from cc2dataset_spark.operators import similarity as SIM

    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="n_codes"):
        SIM.pq_codebook(empty)
    short = spark.createDataFrame(
        [(1, [0.0] * 64), (2, [1.0] * 64)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="got 2"):
        SIM.pq_codebook(short, n_codes=16)


def test_semantic_dedup_n_lists_scales_linearly():
    from cc2dataset_spark.operators.similarity import semantic_dedup_n_lists

    # floor keeps fixture SFs on the oracle's exact clustering
    assert semantic_dedup_n_lists(0) == 8
    assert semantic_dedup_n_lists(100) == 8
    assert semantic_dedup_n_lists(1000) == 8
    # beyond the floor: average cluster pinned at the target (linear
    # candidate volume), not a fixed list count (quadratic)
    assert semantic_dedup_n_lists(10_000) == 79
    assert semantic_dedup_n_lists(1_000_000) == 7813


def test_winnow_overlap_detects_planted_quotation(spark):
    """A verbatim >= window+shingle-1 token run shared between two
    otherwise-different documents must produce a pair — the local-
    overlap property Jaccard-style global resemblance can miss."""
    from cc2dataset_spark.operators.neardup import winnow_overlap_pairs

    quote = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, "alpha beta gamma " + quote + " delta epsilon zeta eta"),
        (2, "one two three four five " + quote + " six seven eight"),
        (3, "completely unrelated text with no shared runs at all ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b)
        for r in winnow_overlap_pairs(df, min_shared=2).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_prefix_jaccard_equals_uncapped_ground_truth(spark, sf_dir):
    """Prefix filtering is lossless: its output must equal the
    UNCAPPED exact all-pairs join on the fixture corpus."""
    from cc2dataset_spark.operators import neardup as ND
    from cc2dataset_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = sorted(
        map(
            tuple,
            ND.exact_jaccard_pairs(
                docs, threshold=0.5, max_shingle_df=None
            ).collect(),
        )
    )
    pref = sorted(
        map(tuple, ND.prefix_filter_jaccard_pairs(docs).collect())
    )
    assert pref == exact
    assert len(pref) > 0


def test_prefix_jaccard_excludes_boilerplate_from_join(spark):
    """Every doc shares one boilerplate shingle (naive join: n^2 rows
    on that key). The prefix join must still find the one real
    near-dup pair, and the boilerplate shingle — maximally hot, hence
    LAST in the (df, s) order — must not appear in any doc's prefix."""
    from pyspark.sql import Window
    from cc2dataset_spark.functions.text import word_shingles
    from cc2dataset_spark.operators import neardup as ND

    boiler = "all rights reserved"
    rows = [
        (i, f"unique text number {i} about topic {i * 7} " + boiler)
        for i in range(50)
    ]
    # one genuine near-dup pair
    rows.append((100, rows[0][1]))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b)
        for r in ND.prefix_filter_jaccard_pairs(df).collect()
    }
    assert (0, 100) in pairs
    # rebuild the prefix exactly as the operator does and check the
    # boilerplate shingle never enters it
    ex = (
        df.select(
            F.col("doc_id").alias("did"),
            F.array_distinct(word_shingles("text", 3)).alias("sh"),
        )
        .select("did", F.size("sh").alias("n"), F.explode("sh").alias("s"))
    )
    dfc = ex.groupBy("s").agg(F.count("*").alias("df_"))
    w = Window.partitionBy("did").orderBy("df_", "s")
    p = F.col("n") - F.expr("(n * 1 + 2 - 1) div 2") + F.lit(1)
    prefix = (
        ex.join(dfc, "s")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= p)
    )
    hot = prefix.where(F.col("s") == boiler).count()
    assert hot == 0


def test_blocked_cosine_equals_naive_exact(spark, sf_dir):
    """The blocked Arrow kernel must reproduce the naive crossJoin
    ground truth EXACTLY (same rounded values, same pairs) — the
    sequential-over-dims accumulation is the bit-parity contract; a
    block size that doesn't divide n exercises ragged tiles."""
    from cc2dataset_spark.operators import neardup as ND
    from cc2dataset_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    naive = sorted(
        map(tuple, ND.embedding_neardup_pairs(emb, threshold=0.35).collect())
    )
    blocked = sorted(
        map(
            tuple,
            ND.embedding_neardup_pairs_blocked(
                emb, threshold=0.35, block_size=300
            ).collect(),
        )
    )
    assert naive == blocked
    assert len(naive) > 0


def test_bloom_prefilter_has_no_false_negatives(spark):
    from cc2dataset_spark.operators.dedup import bloom_prefilter

    ix = spark.createDataFrame(
        [(f"fp{i}",) for i in range(200)], ["fingerprint"]
    )
    batch = spark.createDataFrame(
        [(i, f"fp{i}") for i in range(150, 250)], ["doc_id", "fingerprint"]
    )
    out = {
        r.doc_id: r.bloom_maybe
        for r in bloom_prefilter(batch, ix, m_bits=1 << 12, k=3).collect()
    }
    assert len(out) == 100
    # every fingerprint actually present in the index MUST flag maybe
    assert all(out[i] for i in range(150, 200))
    # and the filter is useful: most absent fps flag definitely-new
    fresh = [i for i in range(200, 250)]
    assert sum(not out[i] for i in fresh) >= 40


def test_bloom_prefilter_rejects_bad_m():
    from cc2dataset_spark.operators.dedup import bloom_prefilter

    with pytest.raises(ValueError, match="m_bits"):
        bloom_prefilter(None, None, m_bits=2**31)
    with pytest.raises(ValueError, match="n_shards"):
        bloom_prefilter(None, None, n_shards=0)


def test_bloom_prefilter_sharded_no_false_negatives(spark):
    """The sharded path (4 independent 2^10-bit filters) keeps the
    no-false-negative guarantee and stays useful, regardless of which
    shard each fingerprint routes to."""
    from cc2dataset_spark.operators.dedup import bloom_prefilter

    ix = spark.createDataFrame(
        [(f"fp{i}",) for i in range(200)], ["fingerprint"]
    )
    batch = spark.createDataFrame(
        [(i, f"fp{i}") for i in range(150, 250)], ["doc_id", "fingerprint"]
    )
    out = {
        r.doc_id: r.bloom_maybe
        for r in bloom_prefilter(
            batch, ix, m_bits=1 << 10, k=3, n_shards=4
        ).collect()
    }
    assert len(out) == 100
    assert all(out[i] for i in range(150, 200))
    assert sum(not out[i] for i in range(200, 250)) >= 40


def test_bloom_prefilter_preserves_duplicate_batch_rows(spark):
    """Fully-duplicate batch rows keep their multiplicity in the
    output (count(*)/k re-expansion), with the same verdict on every
    copy."""
    from cc2dataset_spark.operators.dedup import bloom_prefilter

    ix = spark.createDataFrame([("fpA",)], ["fingerprint"])
    batch = spark.createDataFrame(
        [(1, "fpA")] * 3 + [(2, "fpB")] * 2 + [(3, "fpC")],
        ["doc_id", "fingerprint"],
    )
    rows = bloom_prefilter(batch, ix, m_bits=1 << 10, k=3).collect()
    assert len(rows) == 6
    by_id = {}
    for r in rows:
        by_id.setdefault(r.doc_id, []).append(r.bloom_maybe)
    assert len(by_id[1]) == 3 and all(by_id[1])
    assert len(by_id[2]) == 2
    assert len(by_id[3]) == 1


def test_sorted_neighborhood_full_recall_on_fixture(spark, sf_dir):
    """SNM with the 3-token prefix key recovers every exact
    0.5-Jaccard pair on the fixture (near-dups share prefixes) — the
    recall claim the query docstring makes."""
    from cc2dataset_spark.operators.neardup import (
        exact_jaccard_pairs,
        sorted_neighborhood_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    snm = {
        (r.id_a, r.id_b)
        for r in sorted_neighborhood_pairs(docs).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in exact_jaccard_pairs(
            docs, threshold=0.5, max_shingle_df=None
        ).collect()
    }
    assert exact, "fixture must contain near-dup pairs"
    assert exact <= snm  # every true pair found


def test_edit_distance_blocking_is_complete(spark):
    """Deletion-neighborhood candidates must cover every true
    distance<=1 pair across all three edit kinds (substitution,
    insertion, deletion), and exclude distance-2 lookalikes."""
    from cc2dataset_spark.operators.neardup import edit_distance_pairs

    vals = ["alpha", "alpho", "alphas", "alph", "beta", "betamax", "gamma"]
    df = spark.createDataFrame([(v,) for v in vals], ["source"])
    got = {
        (r.src_a, r.src_b): r.dist
        for r in edit_distance_pairs(df, col="source").collect()
    }
    import itertools

    def ed(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        tuple(sorted((a, b))): ed(a, b)
        for a, b in itertools.combinations(vals, 2)
        if ed(a, b) <= 1
    }
    assert got == want
    assert ("alpha", "alpho") in got  # substitution
    assert ("alpha", "alphas") in got  # insertion
    assert ("alph", "alpha") in got  # deletion
    assert all(p != ("beta", "betamax") for p in got)  # distance 3

    with pytest.raises(NotImplementedError, match="max_distance"):
        edit_distance_pairs(df, max_distance=2)


# --------------------------------------------------------------------------
# Misra-Gries heavy-hitter candidates (operators/sketches.py)
# --------------------------------------------------------------------------


def test_mg_candidates_contain_every_true_heavy_hitter(spark):
    import random

    from cc2dataset_spark.operators.sketches import misra_gries_candidates

    rng = random.Random(7)
    # Zipf-ish stream: item i appears ~1000/i times; k=10 => threshold
    # n/10, so only the very top items are true heavy hitters.
    stream = []
    for i in range(1, 200):
        stream += [f"w{i}"] * (1000 // i)
    rng.shuffle(stream)
    n = len(stream)
    k = 10
    true_hh = {
        w
        for w in set(stream)
        if stream.count(w) * k > n
    }
    assert true_hh  # the fixture must exercise a nonempty answer
    for parts in (1, 3, 13):
        df = spark.createDataFrame(
            [(w,) for w in stream], ["word"]
        ).repartition(parts)
        cands = {
            r.word
            for r in misra_gries_candidates(df, "word", k).collect()
        }
        assert true_hh <= cands  # no false negatives, any partitioning
        # candidate bound: at most k survivors per partition
        assert len(cands) <= k * parts


def test_mg_rejects_bad_k(spark):
    import pytest as _pytest

    from cc2dataset_spark.operators.sketches import misra_gries_candidates

    df = spark.createDataFrame([("a",)], ["word"])
    with _pytest.raises(ValueError):
        misra_gries_candidates(df, "word", 0)


# --------------------------------------------------------------------------
# Real image-header parsing (operators/multimodal.image_dims)
# --------------------------------------------------------------------------


def test_image_dims_real_headers(spark):
    import struct

    from cc2dataset_spark.operators.multimodal import image_dims

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", 640, 480)
        + b"\x08\x06\x00\x00\x00"
        + b"idatgoeshere"
    )
    gif87 = b"GIF87a" + struct.pack("<HH", 320, 200) + b"\x80\x00\x00rest"
    gif89 = b"GIF89a" + struct.pack("<HH", 65535, 1) + b"\x80\x00\x00"
    # JFIF APP0 then a COM segment, then SOF0 — variable offset
    jpg = (
        b"\xff\xd8"
        + b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        + b"\xff\xfe\x00\x07hello"
        + b"\xff\xc0\x00\x11\x08"
        + struct.pack(">HH", 1080, 1920)
        + b"\x03tail"
    )
    # progressive JPEG: SOF2 marker instead of SOF0
    jpg2 = (
        b"\xff\xd8"
        + b"\xff\xc2\x00\x11\x08"
        + struct.pack(">HH", 8, 4096)
        + b"\x03"
    )
    truncated_jpg = b"\xff\xd8\xff\xe0"  # no SOF at all
    not_image = b"plain text bytes"
    rows = [
        (1, png, ("png", 640, 480)),
        (2, gif87, ("gif", 320, 200)),
        (3, gif89, ("gif", 65535, 1)),
        (4, jpg, ("jpeg", 1920, 1080)),
        (5, jpg2, ("jpeg", 4096, 8)),
        (6, truncated_jpg, (None, None, None)),
        (7, not_image, (None, None, None)),
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p, _ in rows], ["i", "payload"]
    )
    got = {
        r.i: (r.d.format, r.d.width, r.d.height)
        for r in df.select("i", image_dims("payload").alias("d")).collect()
    }
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)


def test_best_quality_survivors_contract(spark, sf_dir):
    """Same clustering as the min-id twin; exactly one survivor per
    component; the survivor maximizes (quality, -doc_id)."""
    from cc2dataset_spark.plans.catalog import QUERIES, _load_all

    _load_all()
    rows = QUERIES["dedup_cluster_best_quality"].fn(spark, sf_dir).collect()
    minid = {
        r.doc_id: r.component_id
        for r in QUERIES["er_snm_cluster_survivors"].fn(spark, sf_dir).collect()
    }
    assert {r.doc_id: r.component_id for r in rows} == minid
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component_id, []).append(r)
    for comp, members in by_comp.items():
        survivors = [r for r in members if r.is_survivor]
        assert len(survivors) == 1, comp
        best = max(members, key=lambda r: (r.quality, -r.doc_id))
        assert survivors[0].doc_id == best.doc_id, comp


def test_image_dims_dimension_sweep(spark):
    """Edge-case dimension sweep for the header parser: extremes of
    each format's width field (1, u16 max, PNG past u16/u24) plus a
    seeded random sample, all parsed in ONE DataFrame pass."""
    import random
    import struct

    from cc2dataset_spark.operators.multimodal import image_dims

    rng = random.Random(77)
    png_dims = [(1, 1), (65535, 1), (65536, 2), (16777216, 3),
                (2**31 - 1, 7)] + [
        (rng.randrange(1, 2**31), rng.randrange(1, 2**31)) for _ in range(10)
    ]
    u16_dims = [(1, 1), (65535, 65535), (256, 255)] + [
        (rng.randrange(1, 65536), rng.randrange(1, 65536)) for _ in range(10)
    ]
    rows, want = [], {}
    i = 0
    for w, h in png_dims:
        payload = (
            b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00tail"
        )
        rows.append((i, payload)); want[i] = ("png", w, h); i += 1
    for w, h in u16_dims:
        rows.append((i, b"GIF89a" + struct.pack("<HH", w, h) + b"\x80\x00\x00"))
        want[i] = ("gif", w, h); i += 1
        jpg = (
            b"\xff\xd8"
            + b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
            + b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", h, w) + b"\x03"
        )
        rows.append((i, jpg)); want[i] = ("jpeg", w, h); i += 1
    df = spark.createDataFrame(rows, ["i", "payload"])
    got = {
        r.i: (r.d.format, r.d.width, r.d.height)
        for r in df.select("i", image_dims("payload").alias("d")).collect()
    }
    assert got == want


def test_mg_candidates_preserve_bigint_type(spark):
    from cc2dataset_spark.operators.sketches import misra_gries_candidates

    # 0 is a true heavy hitter (>250 of 500 > n/k = 100), so the
    # contract keeps it under ANY partitioning; the other six values
    # sit below n/k and may or may not survive
    df = spark.createDataFrame(
        [(0 if i % 2 else i % 7,) for i in range(500)], ["user_id"]
    )
    out = misra_gries_candidates(df, "user_id", 5)
    assert dict(out.dtypes)["user_id"] == "bigint"
    cands = {r.user_id for r in out.collect()}
    assert 0 in cands and cands <= set(range(7))


def test_best_quality_survivors_string_ids(spark):
    """String ids must work end to end (no numeric-negation tiebreak)."""
    from pyspark.sql import functions as F

    from cc2dataset_spark.operators.components import cluster_best_survivors

    universe = spark.createDataFrame(
        [("doc_a", 0.5), ("doc_b", 0.9), ("doc_c", 0.9), ("doc_z", 0.1)],
        ["id", "score"],
    )
    edges = spark.createDataFrame(
        [("doc_a", "doc_b"), ("doc_b", "doc_c")], ["id_a", "id_b"]
    )
    rows = {
        r.id: (r.component_id, r.is_survivor)
        for r in cluster_best_survivors(
            universe, edges, "id", F.col("score")
        ).collect()
    }
    # component {a,b,c}: max score 0.9 shared by b and c -> min id b
    assert rows["doc_b"] == ("doc_a", True)
    assert rows["doc_a"][1] is False and rows["doc_c"][1] is False
    assert rows["doc_z"] == ("doc_z", True)  # singleton survives


def test_knn_vote_string_labels_tiebreak(spark):
    """Vote ties over STRING labels must break to the smallest label
    deterministically (the unary-minus-on-label trap)."""
    from cc2dataset_spark.operators.similarity import knn_label_vote

    corpus = spark.createDataFrame(
        [(i, [float(i % 2), 1.0], "spam" if i % 2 else "ham")
         for i in range(1, 5)],
        ["vec_id", "embedding", "label"],
    )
    queries = spark.createDataFrame(
        [(100, [0.5, 1.0])], ["vec_id", "embedding"]
    )
    out = knn_label_vote(queries, corpus, k=4).collect()
    assert len(out) == 1
    assert out[0].top_votes == 2  # 2 spam / 2 ham — a genuine tie
    assert out[0].predicted_label == "ham"  # smallest label wins


def test_sorted_neighborhood_rejects_degenerate_w(spark):
    import pytest as _pytest

    from cc2dataset_spark.operators.neardup import sorted_neighborhood_pairs

    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="neighborhood"):
        sorted_neighborhood_pairs(df, neighborhood=1)


def test_blocked_cosine_rejects_string_ids(spark):
    import pytest as _pytest

    from cc2dataset_spark.operators.neardup import (
        embedding_neardup_pairs_blocked,
    )

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [1.0, 0.0])], ["vec_id", "embedding"]
    )
    with _pytest.raises(ValueError, match="integral id"):
        embedding_neardup_pairs_blocked(df)


def test_dedup_exact_all_key_columns(spark):
    from cc2dataset_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y")], ["a", "b"]
    )
    out = {tuple(r) for r in dedup_exact(df, ["a", "b"]).collect()}
    assert out == {(1, "x"), (2, "y")}


def test_truncated_docs_adjacency_is_complete(spark, monkeypatch):
    """The lexicographic-adjacency argument end-to-end on a crafted
    corpus: a prefix separated from its container by OTHER prefixed
    strings is still found (the in-between strings all start with it),
    a duplicate-text chain flags only its last copy, and a
    non-prefix neighbor is not flagged."""
    import cc2dataset_spark.plans.llm_ops as llm
    from cc2dataset_spark.plans.llm_ops import dedup_truncated_docs

    rows = [
        (1, "alpha"),          # prefix of 2 and 3 (successor: "alpha b...")
        (2, "alpha beta"),     # between 1 and 3; itself NOT a prefix of 3
        (3, "alpha cat"),
        (4, "zeta"),           # dup chain ...
        (9, "zeta"),           # ... last copy flags against 10
        (10, "zeta extended"),
        (11, "omega"),         # no container anywhere
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string"
    ).withColumns(
        {"lang": F.lit("en"), "source": F.lit("s0"), "n_chars": F.lit(0)}
    )
    # neutralize the fixture plant: doc_ids here are never % 5 == 0
    # except none (1,2,3,4,9,10,11 — 10 is! drop it from the plant by
    # monkeypatching load_table only; the plant uses doc_id % 5 == 0,
    # so doc 10 ("zeta extended") ALSO spawns a 40-char planted copy,
    # which equals itself (shorter than 40) — equal text, not a
    # proper prefix, so it changes nothing.
    monkeypatch.setattr(
        llm, "load_table", lambda spark, sf_dir, name: df
    )
    got = {
        (r.doc_id, r.container_id)
        for r in dedup_truncated_docs(spark, "unused").collect()
    }
    assert (1, 2) in got          # adjacency finds the nearest container
    assert (9, 10) in got         # last dup copy flags
    assert all(d != 4 for d, _ in got)   # earlier dup copy: exact-dup domain
    assert all(d != 2 for d, _ in got)   # "alpha beta" not a prefix of "alpha cat"
    assert all(d != 11 for d, _ in got)  # nothing contains "omega"


def test_image_dims_segment_walk_adversarial(spark):
    """The r7 verdict's crafted adversary: a marker-lookalike (FFC0 /
    FFC1 bytes) INSIDE an earlier APPn/EXIF payload must not be read
    as the frame header — the marker-length walk hops the whole
    segment and lands on the true SOF. Also pins: lookalike at an
    even boundary (the r7 heuristic's blind spot was alignment-only),
    fill bytes before markers, RSTn-class standalone markers, and
    SOS-before-SOF returning NULL rather than scanning entropy data."""
    import struct

    from cc2dataset_spark.operators.multimodal import image_dims

    # APP1 (EXIF-style) payload containing FFC0 0011 08 + fake dims at
    # an EVEN byte offset, then the true SOF0 with different dims.
    fake_sof = b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 9999, 8888)
    app1_payload = b"Exif\x00\x00" + fake_sof + b"pad"
    app1 = b"\xff\xe1" + struct.pack(">H", 2 + len(app1_payload)) + app1_payload
    true_sof = (
        b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 480, 640) + b"\x03"
    )
    adversarial = b"\xff\xd8" + app1 + true_sof + b"entropy"

    # same adversary but with a lookalike FFC1 one byte EARLIER (odd
    # boundary) AND one at even boundary — both must be jumped
    app2_payload = b"x\xff\xc1\x00\x11\x08ABCD\xff\xc2\x00\x11\x08EFGH"
    app2 = b"\xff\xee" + struct.pack(">H", 2 + len(app2_payload)) + app2_payload
    adversarial2 = b"\xff\xd8" + app2 + true_sof

    # fill bytes (padding FFs) before a marker are legal
    padded = b"\xff\xd8\xff\xff\xff" + true_sof[1:]

    # SOS before any SOF: the walk must stop, not scan entropy data
    # (which here contains a tempting FFC0 lookalike)
    sos_first = (
        b"\xff\xd8"
        + b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
        + fake_sof
    )

    # a lookalike that the walk reaches but whose length field would
    # run past the end of the payload -> malformed -> NULL
    truncated_seg = b"\xff\xd8\xff\xe0\xff\xff"

    rows = [
        (1, adversarial, ("jpeg", 640, 480)),
        (2, adversarial2, ("jpeg", 640, 480)),
        (3, padded, ("jpeg", 640, 480)),
        (4, sos_first, (None, None, None)),
        (5, truncated_seg, (None, None, None)),
    ]
    df = spark.createDataFrame([(i, p) for i, p, _ in rows], ["i", "payload"])
    got = {
        r.i: (r.d.format, r.d.width, r.d.height)
        for r in df.select("i", image_dims("payload").alias("d")).collect()
    }
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)


def test_image_dims_segment_walk_budget(spark):
    """The walk's 64-segment budget: a deep-but-sane header (50 COM
    segments before SOF) parses; a pathological one (80 segments,
    beyond budget) yields NULL — never a guess."""
    import struct

    from cc2dataset_spark.operators.multimodal import image_dims

    com = b"\xff\xfe\x00\x04xy"  # COM segment, length 4 (2 payload)
    true_sof = (
        b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 480, 640) + b"\x03"
    )
    deep_ok = b"\xff\xd8" + com * 50 + true_sof
    too_deep = b"\xff\xd8" + com * 80 + true_sof
    rows = [(1, deep_ok, ("jpeg", 640, 480)), (2, too_deep, (None, None, None))]
    df = spark.createDataFrame([(i, p) for i, p, _ in rows], ["i", "payload"])
    got = {
        r.i: (r.d.format, r.d.width, r.d.height)
        for r in df.select("i", image_dims("payload").alias("d")).collect()
    }
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)


def test_cluster_survivors_filtered_universe_keeps_one(spark):
    """r8 regression: when edges span a WIDER set than universe (the
    component's min id was filtered out), the component must still
    elect exactly one survivor — the min id present in universe —
    instead of silently dropping every copy."""
    from cc2dataset_spark.operators.components import cluster_survivors

    edges = spark.createDataFrame(
        [(1, 5), (5, 9)], ["id_a", "id_b"]
    )  # component {1,5,9}, min = 1
    universe = spark.createDataFrame(
        [(5,), (9,), (42,)], ["doc_id"]
    )  # 1 was filtered out; 42 is a singleton
    got = {
        r.doc_id: (r.component_id, r.is_survivor)
        for r in cluster_survivors(universe, edges, "doc_id").collect()
    }
    assert got[5] == (1, True)  # min PRESENT member survives
    assert got[9] == (1, False)
    assert got[42] == (42, True)  # singleton survives itself


def test_dedup_incremental_null_and_tied_ids(spark):
    """r8 regression: an all-NULL-id fingerprint group keeps exactly
    one row (was: zero — a new document silently lost), and a tied min
    id keeps exactly one row (was: both — duplicates leaking through a
    dedup operator)."""
    from pyspark.sql import functions as F

    from cc2dataset_spark.operators.dedup import dedup_incremental

    batch = spark.createDataFrame(
        [
            (None, "aaa", "x"),   # all-null-id group for fp(aaa)
            (None, "aaa", "y"),
            (7, "bbb", "p"),      # tied min id for fp(bbb)
            (7, "bbb", "q"),
            (3, "ccc", "z"),      # plain fresh row
            (9, "ddd", "w"),      # indexed -> dropped by anti-join
        ],
        ["doc_id", "content", "payload"],
    )
    index = spark.createDataFrame([("ddd",)], ["fingerprint"])
    out = dedup_incremental(
        batch, index, F.col("content"), id_col="doc_id"
    ).collect()
    by_fp = {}
    for r in out:
        by_fp.setdefault(r.content, []).append((r.doc_id, r.payload))
    assert sorted(by_fp) == ["aaa", "bbb", "ccc"]
    assert len(by_fp["aaa"]) == 1
    assert by_fp["bbb"] == [(7, "p")]  # deterministic payload tiebreak
    assert by_fp["ccc"] == [(3, "z")]
