"""Near-dup machinery on *planted* duplicates: the testdata has no real
near-dups (max pairwise Jaccard ≈0.02), so recall is asserted on a
synthetic corpus with known duplicate pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zio_kinesis_example_spark.operators.llm_dedup import (
    _SHINGLES, embedding_pairs, minhash_signatures, simhash_pairs,
)
from zio_kinesis_example_spark.operators import llm_dedup


def _planted_docs(spark):
    """12 base docs + 3 near-identical variants (one word changed)."""
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "spark executes distributed dataframe plans with catalyst optimizer and tungsten engine",
        "streams of records flow through shards with ordered sequence numbers and checkpoints",
        "language models train on deduplicated corpora filtered for quality and toxicity",
        "vector embeddings capture semantic similarity between documents in high dimensions",
        "minhash signatures approximate jaccard similarity using random permutations of shingles",
        "window functions compute running aggregates over ordered partitions of data",
        "broadcast joins avoid shuffling the large fact table across the cluster",
        "columnar storage formats enable predicate pushdown and efficient column pruning",
        "watermarks bound the lateness of events in streaming aggregation state",
        "adaptive query execution coalesces partitions and splits skewed join keys",
        "the catalyst optimizer rewrites logical plans into efficient physical operators",
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    # planted near-dups: copy docs 0,1,2 with one token changed
    rows.append((100, base[0].replace("quick", "speedy")))
    rows.append((101, base[1].replace("catalyst", "cascades")))
    rows.append((102, base[2].replace("ordered", "sorted")))
    return spark.createDataFrame(rows, "doc_id long, text string")


_PLANTED = {(0, 100), (1, 101), (2, 102)}


def _shingled(df):
    return (
        df.select("doc_id", F.split("text", " ").alias("terms"))
        .select("doc_id", F.expr(_SHINGLES).alias("shingles"))
    )


def test_minhash_lsh_finds_planted_pairs(spark):
    s = _shingled(_planted_docs(spark))
    buckets = minhash_signatures(s)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .dropDuplicates()
    )
    pairs = {(r.x, r.y) for r in cand.collect()}
    assert _PLANTED <= pairs, f"missed planted dups: {_PLANTED - pairs}"


def test_minhash_no_false_candidates_verified(spark):
    """After exact-Jaccard verification (the q_dedup_minhash_pairs shape),
    only the planted pairs survive."""
    s = _shingled(_planted_docs(spark))
    buckets = minhash_signatures(s)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates()
    )
    sh = s.select("doc_id", "shingles")
    verified = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"),
                            F.col("shingles").alias("sa")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"),
                        F.col("shingles").alias("sb")), "doc_b")
        .withColumn("j", F.expr(
            "size(array_intersect(sa, sb)) / size(array_union(sa, sb))"))
        .filter(F.col("j") >= 0.5)
    )
    got = {(r.doc_a, r.doc_b) for r in verified.collect()}
    assert got == _PLANTED


def test_simhash_hamming_pairs(spark):
    docs = _planted_docs(spark)
    docs.createOrReplaceTempView("_planted")
    sigs = (
        docs.select(
            "doc_id",
            F.expr("transform(array_distinct(split(text, ' ')), t -> xxhash64(t))")
            .alias("hashes"),
        )
        .select("doc_id", F.expr(
            "aggregate(hashes, cast(array_repeat(0L, 64) as array<bigint>), "
            "(acc, h) -> zip_with(acc, sequence(0, 63), "
            "(a, b) -> a + CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END))"
        ).alias("bitsums"))
        .select("doc_id", F.expr(
            "aggregate(sequence(0, 63), 0L, (acc, b) -> acc + "
            "CASE WHEN element_at(bitsums, b + 1) > 0 THEN shiftleft(1L, b) ELSE 0L END)"
        ).alias("simhash"))
    )
    # planted pairs measure hamming 5-8 (one changed term in a ~12-term
    # doc); 16-chunk banding guarantees discovery up to hamming 15
    pairs = simhash_pairs(sigs, max_hamming=8)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert _PLANTED <= got, f"missed: {_PLANTED - got}"
    # distinct base docs (hamming ≥ 26 measured) must never appear
    for r in pairs.collect():
        assert (r.doc_a, r.doc_b) in _PLANTED


def test_embedding_pairs_hot_block_cap(spark):
    """A block far wider than max_block is tiled into bounded kernels,
    and the tiled result is IDENTICAL to untiled brute force (exact
    tiling — every pair in exactly one tile-pair kernel)."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim, n = 8, 60                       # one hot label with 60 vectors
    base = rng.normal(size=(6, dim))
    X = base[rng.integers(0, 6, size=n)] + rng.normal(scale=0.15, size=(n, dim))
    rows = [(int(i), "hot", [float(v) for v in X[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, label string, emb array<double>")

    capped = embedding_pairs(df, threshold=0.8, max_block=8)
    got = {(r.vec_a, r.vec_b): r.cosine for r in capped.collect()}

    # reference mirrors the r6 quantized-input contract: floor(x*1e6)
    # ints, exact integer membership (0.8 = 4/5 → 25·dot² ≥ 16·na·nb),
    # one float64 division for the emitted value
    Xq = np.floor(X * 1e6).astype(object)
    want = {}
    ia, ib = np.triu_indices(n, k=1)
    for a, b in zip(ia, ib):
        qa, qb = Xq[a], Xq[b]
        d = int(sum(qa * qb))
        na, nb = int(sum(qa * qa)), int(sum(qb * qb))
        if d >= 0 and 25 * d * d >= 16 * na * nb:
            c = float(d) / (np.sqrt(float(na)) * np.sqrt(float(nb)))
            want[(int(a), int(b))] = float(np.floor(c * 1e6 + 0.5) / 1e6)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9
    # the cap actually engaged: 60 vectors / max_block 8 → 8 tiles
    assert len(want) > 0


def test_exact_dedup_on_planted_exact_copies(spark, tmpdir_factory_local):
    docs = _planted_docs(spark).union(
        spark.createDataFrame([(200, "the quick brown fox jumps over the lazy "
                                "dog near the river bank today")],
                              "doc_id long, text string")
    )
    groups = (
        docs.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keep"))
    )
    dup_groups = groups.filter(F.col("n") > 1).collect()
    assert len(dup_groups) == 1
    assert dup_groups[0].keep == 0 and dup_groups[0].n == 2


def test_shared_registry_concurrent_keys_do_not_serialize(spark):
    """shared() builds run OUTSIDE the registry lock: two threads
    building DIFFERENT keys must both complete (no deadlock through the
    registry lock) and each build must run exactly once."""
    import threading

    from zio_kinesis_example_spark.operators.materialize import clear, shared

    clear()
    calls = {"a": 0, "b": 0}
    barrier = threading.Barrier(2, timeout=30)
    results = {}

    def make_build(key):
        def build():
            calls[key] += 1
            # rendezvous INSIDE both builds: only possible if neither
            # build holds a lock the other needs
            barrier.wait()
            return spark.range(5).withColumnRenamed("id", key)
        return build

    def run(key):
        results[key] = shared(
            spark, "/tmp/test-sfdir", f"test_{key}", make_build(key),
            persist=False)

    ts = [threading.Thread(target=run, args=(k,)) for k in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=60)
    assert calls == {"a": 1, "b": 1}
    assert results["a"].count() == 5 and results["b"].count() == 5
    # second access reuses the entry without rebuilding
    shared(spark, "/tmp/test-sfdir", "test_a", make_build("a"),
           persist=False)
    assert calls["a"] == 1
    clear()


def test_shared_registry_race_loser_is_unpersisted(spark):
    """Duplicate-build race (ADVICE r4): if another thread registers an
    entry for the same key while our build is in flight, shared() must
    return the REGISTERED frame and never persist our duplicate — no
    persisted frame may leak. Simulated deterministically: the build
    itself plants a competing entry (as if a rival thread won)."""
    from zio_kinesis_example_spark.operators.materialize import (
        _LOCK, _REGISTRY, clear, shared)

    clear()
    rival = spark.range(3).withColumnRenamed("id", "rival")
    mine = spark.range(7).withColumnRenamed("id", "mine")
    key = (spark.sparkContext.applicationId, "/tmp/test-sfdir", "test_race")

    def build():
        with _LOCK:
            _REGISTRY[key] = (spark, rival, False)
        return mine

    got = shared(spark, "/tmp/test-sfdir", "test_race", build)
    # the registered (rival) frame wins; ours was discarded unpersisted
    assert got is rival
    lvl = mine.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "loser frame leaked persist"
    clear()


def test_shared_registry_race_same_plan_keeps_winner_cached(spark):
    """The REAL duplicate-build race produces two frames with the SAME
    logical plan. Spark's CacheManager is plan-keyed, so unpersisting
    the loser would evict the winner's cache entry too — the losing
    build must leave the winner cached (code-review r5 finding on the
    first version of the race fix)."""
    from zio_kinesis_example_spark.operators.materialize import (
        _LOCK, _REGISTRY, clear, shared)

    clear()
    rival = spark.range(9).withColumnRenamed("id", "v").persist()
    rival.count()                       # winner's cache, materialized
    key = (spark.sparkContext.applicationId, "/tmp/test-sfdir", "test_race2")

    def build():
        with _LOCK:
            _REGISTRY[key] = (spark, rival, True)
        # identical plan, distinct object — the true race shape
        return spark.range(9).withColumnRenamed("id", "v")

    got = shared(spark, "/tmp/test-sfdir", "test_race2", build)
    assert got is rival
    lvl = rival.storageLevel
    assert lvl.useMemory or lvl.useDisk, \
        "same-plan loser unpersist evicted the winner's cache"
    clear()


def test_loose_persist_cap_drops_oldest_but_spares_a_live_twin(spark):
    """The LOOSE_CAP backstop for sessions that never clear (the
    driver's entry loop): one persist past the cap drops the oldest
    entry and unpersists it; when the oldest has a plan-equal twin that
    is still registered, the twin's blocks (plan-keyed CacheManager)
    stay cached."""
    from zio_kinesis_example_spark.operators.materialize import (
        LOOSE_CAP, _REGISTRY, clear, persist)

    def frame(n):
        return spark.range(n).withColumnRenamed("id", "c")

    def cached(df):
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    def registered(df):
        return any(e[1] is df for e in _REGISTRY.values())

    clear()
    try:
        frames = [persist(frame(n + 1)) for n in range(LOOSE_CAP + 1)]
        assert len(_REGISTRY) == LOOSE_CAP
        assert not registered(frames[0]) and not cached(frames[0])
        assert all(registered(f) and cached(f) for f in frames[1:])
        # frames[1] is now the oldest; its twin has the same plan
        twin = persist(frame(2))
        assert len(_REGISTRY) == LOOSE_CAP
        assert not registered(frames[1]) and registered(twin)
        assert cached(twin), "cap eviction unpersisted a live twin's plan"
    finally:
        clear()


def test_cc_edges_equal_exact_jaccard_edges(spark):
    """The r6 scale fix replaced the cluster family's hot-shingle
    Σ|posting|² self-join with the LSH-verified pair miner. Semantics
    must be UNCHANGED: the LSH edge set equals the unguarded exact
    Jaccard ≥ 0.5 edge set on the fixture (all qualifying pairs sit at
    ≥ 0.8 similarity where the 8×2 band family's recall is 100 %)."""
    from .conftest import SF_SMALL

    s = llm_dedup._with_shingles(spark, SF_SMALL)
    e = s.select(
        "doc_id", F.size("shingles").cast("long").alias("n"),
        F.explode("shingles").alias("shingle"),
    )
    a, b = e.alias("a"), e.alias("b")
    exact = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c"),
             F.min("a.n").alias("na"), F.min("b.n").alias("nb"))
        .filter(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")) >= 0.5)
        .select("doc_a", "doc_b")
    )
    want = {(r.doc_a, r.doc_b) for r in exact.collect()}
    got = {(r.doc_a, r.doc_b)
           for r in llm_dedup._cc_edges(spark, SF_SMALL).collect()}
    assert want, "fixture lost its planted near-dup pairs"
    assert got == want


def test_ngram_jaccard_df_cap_is_noop_on_fixture(spark):
    """_DF_CAP (64) exceeds every shingle document frequency on the
    fixture (max 25 at sf0.1), so the stop-shingle guard must not drop a
    single pair vs the unguarded formulation — the query stays exact
    ground truth locally while the guard bounds the join at web scale."""
    from .conftest import SF_SMALL
    from zio_kinesis_example_spark.registry import all_specs

    s = llm_dedup._with_shingles(spark, SF_SMALL)
    e = s.select("doc_id", F.explode("shingles").alias("shingle"))
    a, b = e.alias("a"), e.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = s.select("doc_id", "shingles")
    unguarded = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"),
                            F.col("shingles").alias("sa")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"),
                        F.col("shingles").alias("sb")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("long")
            .alias("n_common"),
            (F.size(F.array_intersect("sa", "sb"))
             / F.size(F.array_union("sa", "sb"))).alias("jac"),
        )
        .filter(F.col("jac") >= 0.01)
    )
    want = {(r.doc_a, r.doc_b, r.n_common) for r in unguarded.collect()}
    got = {(r.doc_a, r.doc_b, r.n_common)
           for r in all_specs()["q_dedup_ngram_jaccard"]
           .fn(spark, SF_SMALL).collect()}
    assert want and got == want


def test_largestar_smallstar_equals_hash_min_on_fixture(spark):
    """The r6 production CC variant (api.connected_components,
    large-star/small-star) must reach the exact same fixpoint labels as
    the hash-min loop (q_dedup_clusters) on the fixture's LSH near-dup
    graph, isolated documents included."""
    from .conftest import SF_SMALL
    from zio_kinesis_example_spark.api import connected_components
    from zio_kinesis_example_spark.catalog import load
    from zio_kinesis_example_spark.registry import all_specs

    want = {(r.doc_id, r.cluster_id)
            for r in all_specs()["q_dedup_clusters"]
            .fn(spark, SF_SMALL).collect()}
    got_df = connected_components(
        llm_dedup._cc_edges(spark, SF_SMALL), "doc_a", "doc_b",
        vertices=load(spark, SF_SMALL, "documents"))
    got = {(r.doc_id, r.cluster_id) for r in got_df.collect()}
    assert want and got == want


def test_largestar_smallstar_round_count_beats_hash_min_on_path(spark):
    """The measured win that justifies the second CC: hash-min needs
    O(diameter) rounds (a 40-node path label crawls one hop per round),
    star contraction collapses it in O(log n)-ish alternations."""
    from zio_kinesis_example_spark.api import connected_components

    n = 40
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long")
    labels, rounds = connected_components(path, return_rounds=True)
    got = {(r.doc_id, r.cluster_id) for r in labels.collect()}
    assert got == {(i, 0) for i in range(n)}
    # hash-min would take ~n rounds on this graph; star contraction must
    # land well under diameter/2 (measured: 7 rounds for n=40)
    assert rounds <= 12, rounds


def test_largestar_smallstar_handles_dupes_selfloops_and_isolates(spark):
    from zio_kinesis_example_spark.api import connected_components

    edges = spark.createDataFrame(
        [(5, 3), (3, 5), (5, 5), (3, 5), (10, 11)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in (3, 5, 10, 11, 99)],
                                  "doc_id long")
    got = {(r.doc_id, r.cluster_id)
           for r in connected_components(
               edges, vertices=verts).collect()}
    assert got == {(3, 3), (5, 3), (10, 10), (11, 10), (99, 99)}


def test_embedding_pairs_negative_threshold(spark):
    """The r6 review fix: a NEGATIVE threshold must keep every pair
    with cosine >= threshold — including negative-dot pairs — not
    silently collapse to cos >= +|threshold| (the unsigned-squaring
    trap). Vectors engineered to give cosines ~ +1, ~ -1, and ~ 0."""
    import numpy as np

    rows = [
        (0, "b", [1.0, 0.0, 0.0, 0.0]),
        (1, "b", [0.9, 0.1, 0.0, 0.0]),    # cos(0,1) ~ +0.99
        (2, "b", [-1.0, 0.0, 0.0, 0.0]),   # cos(0,2) = -1
        (3, "b", [0.0, 0.0, 1.0, 0.0]),    # cos(0,3) = 0
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, emb array<double>")

    got_neg = {(r.vec_a, r.vec_b): r.cosine
               for r in embedding_pairs(df, threshold=-0.5).collect()}
    # every pair except the cos=-1 ones qualifies at threshold -0.5
    assert (0, 2) not in got_neg and (1, 2) not in got_neg
    assert (0, 1) in got_neg and (0, 3) in got_neg and (2, 3) in got_neg
    assert got_neg[(0, 1)] > 0.9

    got_all = {(r.vec_a, r.vec_b)
               for r in embedding_pairs(df, threshold=-1).collect()}
    assert got_all == {(a, b) for a in range(4) for b in range(4) if a < b}
