"""ANN-vs-exact recall, and cosine correctness against numpy."""

from __future__ import annotations

import numpy as np

from zio_kinesis_example_spark.registry import all_specs

from .conftest import SF_SMALL


def test_lsh_recall_vs_brute_force(spark):
    """Multi-table LSH top-k must recover a meaningful fraction of the
    exact top-k (random 64-d data is a worst case for LSH — the bound is
    deliberately modest; planted-duplicate recall is covered in
    test_dedup)."""
    from zio_kinesis_example_spark.operators.llm_similarity import _ann_lsh_plan
    exact = all_specs()["q_sim_cosine_topk"].fn(spark, SF_SMALL).collect()
    approx = _ann_lsh_plan(spark, SF_SMALL).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= 0.15, f"LSH recall collapsed: {recall:.2f}"


def test_cosine_matches_numpy(spark):
    """The JVM quantized-input cosine equals an independently computed
    numpy version of the same formula (floor(x*1e6) int inputs, exact
    integer dot/norms, one float64 division) — and stays within
    quantization error of the raw float64 cosine."""
    rows = all_specs()["q_sim_cosine_topk"].fn(spark, SF_SMALL).collect()
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    }
    for r in rows[:20]:
        a, b = emb[r.query_id], emb[r.neighbor_id]
        qa = np.floor(a * 1_000_000).astype(np.int64)
        qb = np.floor(b * 1_000_000).astype(np.int64)
        want = float((qa @ qb) / (np.sqrt(float(qa @ qa))
                                  * np.sqrt(float(qb @ qb))))
        assert abs(round(want, 6) - r.cosine) <= 1e-6, (r, want)
        raw = float(a @ b / np.sqrt((a @ a) * (b @ b)))
        assert abs(raw - want) < 5e-6, (r, raw, want)


def test_ivf_recall_vs_brute_force(spark):
    """IVF with nprobe=2 over label-clustered embeddings: real neighbors
    share a cluster, so cell-restricted search should recover most of
    the exact top-k (tested at sf0.01 where the quantizer has ~14
    cells — sf0.001 has too few vectors to form cells)."""
    from .conftest import SF_ORACLE
    from zio_kinesis_example_spark.operators.llm_similarity import _ann_ivf_plan
    exact = all_specs()["q_sim_cosine_topk"].fn(spark, SF_ORACLE).collect()
    approx = _ann_ivf_plan(spark, SF_ORACLE).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= 0.3, f"IVF recall collapsed: {recall:.2f}"
    # every query produced k candidates (cells are dense enough)
    assert set(got) == set(truth)


def test_ivf_trained_centroids_beat_hash_sample(spark):
    """The r6 FAISS-parity fix: the Lloyd-trained coarse quantizer
    (default train_iters) must reach recall@k >= the raw hash-sample
    seed (train_iters=0) against the exact baseline — training may tie
    but never degrade on the fixture."""
    from .conftest import SF_ORACLE
    from zio_kinesis_example_spark.operators.llm_similarity import _ann_ivf_plan

    exact = all_specs()["q_sim_cosine_topk"].fn(spark, SF_ORACLE).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    total = sum(len(v) for v in truth.values())

    def recall(plan) -> float:
        got: dict[int, set[int]] = {}
        for r in plan.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(truth[q] & got.get(q, set())) for q in truth) / total

    base = recall(_ann_ivf_plan(spark, SF_ORACLE, train_iters=0))
    trained = recall(_ann_ivf_plan(spark, SF_ORACLE))
    assert trained >= base, (trained, base)


def test_pq_adc_recall_and_refine_exactness(spark):
    """PQ-ADC (q_sim_ann_pq's plan): overall recall@k >= the measured
    floor at sf0.01, every query answers with exactly k refined rows,
    and the refine stage's cosine values EQUAL the exact baseline's for
    every (query, neighbor) the two share - the refine is exact integer
    re-ranking, not an approximation."""
    from .conftest import SF_ORACLE
    from zio_kinesis_example_spark.operators.llm_similarity import (
        _K, _ann_pq_plan,
    )

    exact = all_specs()["q_sim_cosine_topk"].fn(spark, SF_ORACLE).collect()
    approx = _ann_pq_plan(spark, SF_ORACLE).collect()
    truth: dict[int, set[int]] = {}
    escore: dict[tuple[int, int], float] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
        escore[(r.query_id, r.neighbor_id)] = r.cosine
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
        key = (r.query_id, r.neighbor_id)
        if key in escore:
            assert r.cosine == escore[key], key
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.5, f"PQ-ADC recall collapsed: {hits/total:.2f}"
    assert all(len(v) == _K for v in got.values())
    assert set(got) == set(truth)


def test_pq_trained_codebooks_beat_hash_sample(spark):
    """The IVF r6 precedent applied to PQ: integer-Lloyd-trained
    sub-codebooks (default train_iters) must reach recall@k >= the raw
    hash-sample seed (train_iters=0) - training may tie but never
    degrade on the fixture."""
    from .conftest import SF_ORACLE
    from zio_kinesis_example_spark.operators.llm_similarity import (
        _ann_pq_plan,
    )

    exact = all_specs()["q_sim_cosine_topk"].fn(spark, SF_ORACLE).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    total = sum(len(v) for v in truth.values())

    def recall(plan) -> float:
        got: dict[int, set[int]] = {}
        for r in plan.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(truth[q] & got.get(q, set())) for q in truth) / total

    base = recall(_ann_pq_plan(spark, SF_ORACLE, train_iters=0))
    trained = recall(_ann_pq_plan(spark, SF_ORACLE))
    assert trained >= base, (trained, base)


def test_ivfpq_recall_and_refine_exactness(spark):
    """IVFPQ (the composed index): recall@k >= its floor at sf0.01,
    every query answers exactly k rows, and shared refined cosines
    EQUAL the exact baseline's (the refine stage is exact)."""
    from .conftest import SF_ORACLE
    from zio_kinesis_example_spark.operators.llm_similarity import (
        _K, _ann_ivfpq_plan,
    )

    exact = all_specs()["q_sim_cosine_topk"].fn(spark, SF_ORACLE).collect()
    approx = _ann_ivfpq_plan(spark, SF_ORACLE).collect()
    truth: dict[int, set[int]] = {}
    escore: dict[tuple[int, int], float] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
        escore[(r.query_id, r.neighbor_id)] = r.cosine
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
        key = (r.query_id, r.neighbor_id)
        if key in escore:
            assert r.cosine == escore[key], key
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.4, f"IVFPQ recall collapsed: {hits/total:.2f}"
    assert all(len(v) == _K for v in got.values())
    assert set(got) == set(truth)


def test_refine_window_is_capped_and_floored():
    """The r8 refine contract: R = max(floor, min(2%·n, cap)) — floored
    at 100, proportional through the proxy scales, CONSTANT beyond the
    cap (the FAISS bounded-reorder convention; an uncapped R ∝ n made
    the refine stage asymptotically brute force)."""
    from zio_kinesis_example_spark.operators.llm_similarity import (
        _PQ_ANN_REFINE, _PQ_ANN_REFINE_CAP, _PQ_ANN_REFINE_FRAC,
    )

    def window(n: int) -> int:
        return max(_PQ_ANN_REFINE,
                   min(int(n * _PQ_ANN_REFINE_FRAC), _PQ_ANN_REFINE_CAP))

    assert window(2_000) == 100          # sf0.1: floor
    assert window(20_000) == 400         # 10x proxy: proportional
    assert window(60_000) == 1024        # 30x proxy: cap binds
    assert window(10**9) == _PQ_ANN_REFINE_CAP  # constant at any scale


def test_range_search_ann_exact_membership_and_recall(spark):
    """The IVF-composed radius search must emit ONLY exactly-correct
    pairs (a strict subset of the exact radius truth — coverage is the
    only approximate axis, the FAISS IndexIVF.range_search semantic)
    and recover at least the documented floor of the truth set."""
    from zio_kinesis_example_spark.operators import llm_similarity as S

    truth = set(S._exact_radius_pairs(spark, SF_SMALL))
    got = {(r.query_id, r.neighbor_id)
           for r in S._range_search_ann_plan(spark, SF_SMALL).collect()}
    assert got <= truth                     # zero false positives
    assert truth                            # non-degenerate fixture
    recall = len(got) / len(truth)
    assert recall >= S._RANGE_ANN_RECALL_FLOOR, recall


def test_ann_index_persists_across_sessions(spark, tmpdir_factory_local,
                                            monkeypatch):
    """FAISS write_index/read_index parity (r9): the trained artifacts
    (IVF centroids, PQ codebooks, corpus count) persist to disk; a COLD
    session (simulated by emptying the in-memory registry) loads them
    with ZERO training work — no Lloyd pass runs — and every loaded
    artifact plus the full IVFPQ result is bit-identical. Reference
    anchor: durable state survives process death
    (CheckpointOnChunkEndStreamClient.scala:31-44) applied to index
    state."""
    import numpy as np

    from pyspark.sql import functions as F
    from zio_kinesis_example_spark.operators import llm_similarity as S

    store = tmpdir_factory_local("zke-annidx")
    monkeypatch.setenv("SPARK_GRAFT_ANN_INDEX_DIR", store)
    S.clear_ann_cache()
    try:
        e = S._emb(spark, SF_SMALL)
        q = e.select("vec_id", F.expr(
            S._QUANT.replace("embedding", "emb")).alias("qv"))
        c1 = S._ivf_centroids(spark, SF_SMALL, e, S._IVF_TRAIN_ITERS)
        b1 = S._pq_trained_books(spark, SF_SMALL, q, S._PQ_ANN_TRAIN_ITERS)
        n1 = S._corpus_count(spark, SF_SMALL, q)
        r1 = sorted(map(tuple, S._ann_ivfpq_plan(spark, SF_SMALL).collect()))

        # cold session: in-memory registry empty, disk store populated
        S.clear_ann_cache()

        def boom(*a, **k):
            raise AssertionError("training ran on a persisted index")

        monkeypatch.setattr(S, "_train_ivf_centroids", boom)
        monkeypatch.setattr(S, "_train_pq_books", boom)
        c2 = S._ivf_centroids(spark, SF_SMALL, e, S._IVF_TRAIN_ITERS)
        b2 = S._pq_trained_books(spark, SF_SMALL, q, S._PQ_ANN_TRAIN_ITERS)
        n2 = S._corpus_count(spark, SF_SMALL, q)
        assert np.array_equal(c1, c2)
        assert c2.dtype == np.float64 and b1 == b2 and n1 == n2
        r2 = sorted(map(tuple, S._ann_ivfpq_plan(spark, SF_SMALL).collect()))
        assert r1 == r2

        # a corpus-fingerprint mismatch must invalidate, not serve stale
        monkeypatch.setattr(S, "_corpus_fingerprint",
                            lambda sf: "regenerated-corpus")
        S.clear_ann_cache()
        assert S._ann_disk_load(
            spark, __import__("os").path.realpath(SF_SMALL),
            f"ivfC:{S._IVF_NLIST}:{S._IVF_TRAIN_ITERS}"
            f":s{S._IVF_TRAIN_SAMPLE}:q{S._IVF_TRAIN_SCALE}",
            "f8_2d") is None
    finally:
        S.clear_ann_cache()


def test_ann_index_registry_trains_once_per_session(spark):
    """The r8 index-build/search split: the trained IVF centroids and
    PQ codebooks are memoized per (session, sf_dir, params) — a second
    plan build must NOT retrain (the FAISS convention; IVFPQ previously
    re-derived both parents' codebooks on every run)."""
    import numpy as np

    from zio_kinesis_example_spark.operators import llm_similarity as S

    S.clear_ann_cache()
    try:
        e = S._emb(spark, SF_SMALL)
        c1 = S._ivf_centroids(spark, SF_SMALL, e, 1)
        calls = []
        orig = S._train_ivf_centroids
        S._train_ivf_centroids = lambda *a, **k: calls.append(1) or orig(*a, **k)
        try:
            c2 = S._ivf_centroids(spark, SF_SMALL, e, 1)
        finally:
            S._train_ivf_centroids = orig
        assert calls == []               # cache hit: no retraining
        assert np.array_equal(c1, c2)
        # distinct train_iters are distinct artifacts (the train_iters=0
        # baseline tests must never collide with the trained path)
        c0 = S._ivf_centroids(spark, SF_SMALL, e, 0)
        assert not np.array_equal(c0, c1)
    finally:
        S.clear_ann_cache()


def test_ann_store_failure_warns_once(spark, tmpdir_factory_local,
                                      monkeypatch):
    """r10 ADVICE regression: a broken persisted-index location (here:
    SPARK_GRAFT_ANN_INDEX_DIR pointing at a flat FILE) no longer
    disables the feature SILENTLY. The first load/store failure of each
    kind emits one RuntimeWarning — then stays quiet — and the
    best-effort fallback still trains a correct artifact. A plain cold
    miss (FileNotFoundError on load) stays warning-free."""
    import os
    import warnings

    from zio_kinesis_example_spark.operators import llm_similarity as S

    blocker = os.path.join(tmpdir_factory_local("annwarn"), "flatfile")
    with open(blocker, "w") as fh:
        fh.write("not a directory")
    monkeypatch.setenv("SPARK_GRAFT_ANN_INDEX_DIR", blocker)
    S.clear_ann_cache()
    S._ANN_STORE_WARNED.clear()
    try:
        e = S._emb(spark, SF_SMALL)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            c = S._ivf_centroids(spark, SF_SMALL, e, S._IVF_TRAIN_ITERS)
        assert c.shape[0] > 0 and c.shape[1] > 0   # fallback trained
        ours = [x for x in w if issubclass(x.category, RuntimeWarning)
                and "persisted ANN index" in str(x.message)]
        assert ours, "broken store produced no warning"

        # same failure kinds again: silent (once-per-process guard)
        S.clear_ann_cache()
        with warnings.catch_warnings(record=True) as w2:
            warnings.simplefilter("always")
            S._ivf_centroids(spark, SF_SMALL, e, S._IVF_TRAIN_ITERS)
        assert not [x for x in w2
                    if "persisted ANN index" in str(x.message)]

        # healthy empty dir: cold miss is NOT a failure -> no warning
        S.clear_ann_cache()
        S._ANN_STORE_WARNED.clear()
        monkeypatch.setenv("SPARK_GRAFT_ANN_INDEX_DIR",
                           tmpdir_factory_local("annwarn-ok"))
        with warnings.catch_warnings(record=True) as w3:
            warnings.simplefilter("always")
            S._ivf_centroids(spark, SF_SMALL, e, S._IVF_TRAIN_ITERS)
        assert not [x for x in w3
                    if "persisted ANN index" in str(x.message)]
    finally:
        S.clear_ann_cache()
        S._ANN_STORE_WARNED.clear()


def test_nlist_dial_range_search(spark):
    """r10 (verdict item 2): nlist is now a real parameter of the IVF
    family. At a larger nlist the composed radius search must keep its
    exactness contract (emitted pairs ⊆ the exact radius truth — zero
    false positives), keep meaningful coverage, and the trained
    quantizer registry must key by nlist (no collision with the
    default index)."""
    from zio_kinesis_example_spark.operators import llm_similarity as S

    C32 = S._ivf_centroids(spark, SF_SMALL, S._emb(spark, SF_SMALL),
                           S._IVF_TRAIN_ITERS)
    C64 = S._ivf_centroids(spark, SF_SMALL, S._emb(spark, SF_SMALL),
                           S._IVF_TRAIN_ITERS, nlist=64)
    assert C32.shape[0] == S._IVF_NLIST and C64.shape[0] == 64
    assert not np.array_equal(C32, C64[:C32.shape[0]])  # retrained, not sliced

    truth = set(S._exact_radius_pairs(spark, SF_SMALL))
    got64 = {(r.query_id, r.neighbor_id)
             for r in S._range_search_ann_plan(
                 spark, SF_SMALL, nlist=64).collect()}
    assert got64 <= truth                 # exactness survives the dial
    assert len(got64) / len(truth) >= 0.25  # coverage stays meaningful


def test_range_prefilter_equivalence_property(spark):
    """r10 property lock (r9 verdict carried item): the conservative
    double prefilter inside _range_member_expr must be ROW-SET NEUTRAL —
    prefilter-on ≡ the bare exact decimal predicate — on adversarial
    (dot, na, nb) triples, including exact-boundary cases where
    16·dot² == na·nb and the documented operand bound (|dot| ≤ 6.4e13)
    where double error is largest. A prefilter that ever drops a true
    member violates the exactness contract."""
    import math

    from pyspark.sql import functions as F
    from zio_kinesis_example_spark.operators import llm_similarity as S

    rng = np.random.default_rng(0xC0FFEE)
    rows = []
    bound = 64 * 10**12          # the docstring operand bound
    for _ in range(4000):
        na = int(rng.integers(1, bound))
        nb = int(rng.integers(1, bound))
        prod = na * nb
        d_star = math.isqrt(prod // 16)
        # straddle the boundary exactly, plus random interior points
        for dot in (d_star - 1, d_star, d_star + 1,
                    int(rng.integers(0, min(bound, 4 * d_star + 2) + 1))):
            rows.append((dot, na, nb))
    # degenerate axes
    rows += [(0, 1, 1), (1, 0, 1), (1, 1, 0), (-5, 10, 10)]
    df = spark.createDataFrame(rows, "dot long, na long, nb long")

    bare = F.expr(
        "dot > 0 AND na > 0 AND nb > 0 AND "
        "16 * cast(dot as decimal(38,0)) * cast(dot as decimal(38,0)) "
        ">= 1 * cast(na as decimal(38,0)) * cast(nb as decimal(38,0))")
    with_pre = df.filter(S._range_member_expr())
    without_pre = df.filter(bare)
    a = {tuple(r) for r in with_pre.collect()}
    b = {tuple(r) for r in without_pre.collect()}
    assert a == b, (f"prefilter changed the row set: "
                    f"dropped={sorted(b - a)[:5]} added={sorted(a - b)[:5]}")


def test_majority_dim_empty_corpus_raises_descriptive(spark):
    """r11 ADVICE: an empty or all-NULL corpus used to crash the
    majority-dimension probe with a bare AttributeError
    ('NoneType' has no attribute 'd'); it must raise a descriptive
    ValueError instead — from both the helper and the streaming
    ivf_index that uses it."""
    import pytest

    from zio_kinesis_example_spark.operators import llm_similarity as S

    empty = spark.createDataFrame([], "vec_id long, emb array<double>")
    with pytest.raises(ValueError, match="no valid embedding rows"):
        S._majority_dim(empty)
    all_null = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, emb array<double>")
    with pytest.raises(ValueError, match="no valid embedding rows"):
        S._majority_dim(all_null)


def test_centroids_train_on_filtered_sample(spark, tmpdir_factory_local,
                                            monkeypatch):
    """r11 ADVICE: _ivf_centroids must train on the validity-FILTERED
    corpus so the batch plans and the streaming ivf_index (which
    filters before training) produce the same artifact under the shared
    cache key — a NaN row in the hash-ordered training sample would
    otherwise poison batch-trained centroids served to the stream."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from zio_kinesis_example_spark.operators import llm_similarity as S

    src = tmpdir_factory_local("trainpoison")
    base = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    emb = base.column("embedding").to_pylist()
    ids = base.column("vec_id").to_pylist()
    labels = base.column("label").to_pylist()
    dim = len(emb[0])
    # poison rows across validity classes; vec_ids chosen so at least
    # one lands in the head of the xxhash64-ordered training sample is
    # not required — training over the FULL sf0.001 corpus (65 rows <
    # _IVF_TRAIN_SAMPLE) guarantees the NaN row is in the sample if
    # unfiltered
    emb += [[float("nan")] * dim, [1.0, 2.0]]
    ids += [800_001, 800_002]
    labels += [0, 0]
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.array(emb, type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    }), f"{src}/embeddings.parquet")

    S.clear_ann_cache()
    try:
        # isolate the disk store per call so BOTH calls genuinely train
        # (a shared store would serve call 1's artifact to call 2 and
        # the equality below would be vacuous)
        monkeypatch.setenv("SPARK_GRAFT_ANN_INDEX_DIR",
                           tmpdir_factory_local("annstore-a"))
        e = S._emb(spark, str(src))
        C = S._ivf_centroids(spark, str(src), e, S._IVF_TRAIN_ITERS)
        assert np.isfinite(C).all(), "NaN poison row reached training"
        # and the filtered result equals training on the clean corpus
        # alone (the streaming path's pre-filtered frame)
        S.clear_ann_cache()
        monkeypatch.setenv("SPARK_GRAFT_ANN_INDEX_DIR",
                           tmpdir_factory_local("annstore-b"))
        ev = e.filter(S._valid_emb(dim))
        C2 = S._ivf_centroids(spark, str(src), ev, S._IVF_TRAIN_ITERS)
        assert np.array_equal(C, C2)
    finally:
        S.clear_ann_cache()


def test_emb_table_empty_corpus_returns_empty_frame(spark,
                                                    tmpdir_factory_local):
    """r12 ADVICE: on an empty or all-NULL embeddings corpus the two
    engines used to diverge — EMB_VALID_SQL's emb_valid is empty so
    oracles return empty results, while emb_table raised
    _majority_dim's ValueError and crashed the Spark side of a parity
    sweep. emb_table must now return an EMPTY frame with the raw
    schema, matching the oracle."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from zio_kinesis_example_spark.operators import llm_similarity as S

    d = tmpdir_factory_local("embempty")
    t = pa.table({
        "vec_id": pa.array([1, 2], type=pa.int64()),
        "embedding": pa.array([None, None],
                              type=pa.list_(pa.float32())),
        "label": pa.array([0, 1], type=pa.int32()),
    })
    pq.write_table(t, os.path.join(d, "embeddings.parquet"))
    df = S.emb_table(spark, d)
    assert df.count() == 0
    assert set(df.columns) == {"vec_id", "embedding", "label"}


def test_dim_cache_invalidated_on_rebuild_in_place(spark,
                                                   tmpdir_factory_local):
    """r12 ADVICE: _DIM_CACHE was keyed by sf_dir alone, but the
    stress-proxy builders rebuild dest dirs IN PLACE; a rebuild that
    shifts the majority embedding dimension must not leave emb_table
    filtering against the stale width for the session's lifetime."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from zio_kinesis_example_spark.operators import llm_similarity as S

    d = tmpdir_factory_local("embrebuild")
    p = os.path.join(d, "embeddings.parquet")

    def write(dim: int, n: int = 8):
        t = pa.table({
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array([[0.5] * dim] * n,
                                  type=pa.list_(pa.float32())),
            "label": pa.array([0] * n, type=pa.int32()),
        })
        pq.write_table(t, p)

    write(4)
    assert S.emb_table(spark, d).count() == 8
    time.sleep(0.01)            # ensure mtime_ns moves even on coarse fs
    write(6)                    # rebuild in place, NEW majority width
    os.utime(p)                 # belt and braces: force a new mtime
    # stale-width filter (dim=4) would now drop every row
    assert S.emb_table(spark, d).count() == 8
