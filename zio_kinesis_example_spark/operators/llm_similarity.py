"""Similarity search over embeddings [north-star]: brute-force cosine top-k
baseline + LSH-bucketed approximate variant (the 100 TB path).

Scale design:
- **Brute force** (q_sim_cosine_topk): query set × corpus. The query set is
  broadcast (it is the small side by construction); the corpus streams
  through map-side — no shuffle of the corpus. Per-query top-k via
  window row_number, which AQE executes as partial top-k per partition.
  Cost is O(|Q|·|corpus|·dim): the exact baseline, correct at any scale
  but linear in corpus size per query.
- **LSH** (q_sim_ann_lsh): multi-table random-hyperplane signatures
  (L=12 tables × k=6 bits) computed per-row with deterministic
  integer-weight planes (seeded, embedded as literals) → candidates =
  bucket-mates in ANY table (single shuffle on (table_id, sig)) → exact
  cosine re-rank within bucket. Sub-linear probe cost; recall vs the
  brute-force baseline is asserted in tests/test_similarity.py.
- **IVF** (q_sim_ann_ivf): Lloyd-trained coarse quantizer (nlist cells,
  O(nlist·dim) driver codebook), nprobe cells probed per query — the
  FAISS IVF shape, sub-linear candidate generation.
- **PQ-ADC** (q_sim_ann_pq): product-quantized codes (16 bits/vector)
  scanned with per-query lookup tables (asymmetric distance), exact
  integer refine of the shortlist — the memory-bound FAISS IndexPQ
  shape; the scan never moves vectors.
- **IVFPQ** (q_sim_ann_ivfpq): the composed production index — probed
  cells restrict WHICH vectors each query scores, PQ codes restrict
  WHAT the scan reads per candidate; sub-linear AND vector-free, the
  FAISS IVFADC layout a 100 TB index actually runs.

All vector math in JVM higher-order functions over array<double> — no
Python, no UDF; Arrow only at the result edge.
"""

from __future__ import annotations

import os
import random
import threading

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType
from pyspark.sql.window import Window

from ..catalog import EMB_VALID_SQL, load  # noqa: F401  (EMB_VALID_SQL re-exported: ONE contract, see emb_table)
from ..registry import query
from .materialize import session_stopped, spread

_K = 5
_QUERY_FILTER = "vec_id % 50 = 0"  # deterministic small query set

# Deterministic random hyperplanes for multi-table LSH: integer weights in
# [-5, 5], seeded — reproducible across runs. L tables of k bits each: a
# pair collides if it shares the full k-bit signature in ANY table.
# Collision prob for angle θ: 1 − (1 − (1−θ/π)^k)^L — k trades precision,
# L trades recall; both are tunable per corpus density.
_K_BITS = 6
_L_TABLES = 12
_DIM = 64
_rng = random.Random(20240813)
_PLANES: list[list[int]] = [
    [_rng.randint(-5, 5) for _ in range(_DIM)]
    for _ in range(_K_BITS * _L_TABLES)
]


def _majority_dim(e: DataFrame, col: str = "emb") -> int:
    """The corpus's majority embedding dimension (one tiny aggregate) —
    the expected width malformed rows are judged against. Raises a
    descriptive error on an empty / all-null corpus instead of the bare
    AttributeError ``.first().d`` used to produce (r11 ADVICE)."""
    r = (
        e.filter(F.col(col).isNotNull())
        .groupBy(F.size(col).alias("d")).count()
        .orderBy(F.desc("count"), "d").first()
    )
    if r is None:
        raise ValueError(
            "no valid embedding rows in corpus: every emb is NULL or "
            "the frame is empty — nothing to train or probe against")
    return int(r.d)


def _valid_emb(dim: int, col: str = "emb"):
    """Predicate keeping only well-formed vectors: non-null, exact
    ``dim``, and NO null/NaN/±inf elements (Arrow converts list nulls
    to NaN; cosine over a NaN element yields NaN; Spark's descending
    window ranks NaN FIRST — so a poison vector would win a
    deterministic-but-garbage verdict instead of being dropped; an inf
    element passes a null/NaN check but detonates the quantized
    integer path — floor(inf·1e6) casts to Long.MaxValue and the
    squared-norm multiply overflows under ANSI; the r12 content-stress
    sweep caught exactly that in 10 queries). Shared by the streaming
    probe (streaming/ann.py), the centroid trainer, and — since r12 —
    every batch embedding consumer via ``emb_table``, so all paths
    judge validity identically."""
    return (F.col(col).isNotNull()
            & (F.size(col) == dim)
            & ~F.expr(f"exists({col}, x -> x is null or isnan(x) "
                      f"or abs(x) = cast('Infinity' as double))"))


#: memoized majority dim per fixture FINGERPRINT — ONE tiny aggregate
#: per (session-lifetime, parquet state), not one per query plan. The
#: key includes the embeddings parquet's (path, mtime_ns, size), not
#: just sf_dir (r12 ADVICE): the stress-proxy builders rebuild dest
#: dirs IN PLACE under different rates, and an sf_dir-keyed cache
#: would serve the pre-rebuild majority width for the session's
#: lifetime. None records a fully degenerate corpus (empty/all-NULL).
_DIM_CACHE: dict[tuple, int | None] = {}


def _emb_fingerprint(sf_dir: str) -> tuple:
    """Cheap identity of the embeddings parquet (file or part-dir):
    path + per-file (mtime_ns, size). A rebuild-in-place changes it."""
    from ..catalog import path as _tpath

    p = _tpath(sf_dir, "embeddings")
    try:
        if os.path.isdir(p):
            sts = [(f, os.stat(os.path.join(p, f)))
                   for f in sorted(os.listdir(p))]
            return (p,) + tuple((f, s.st_mtime_ns, s.st_size)
                                for f, s in sts)
        s = os.stat(p)
        return (p, s.st_mtime_ns, s.st_size)
    except OSError:
        return (p,)


def emb_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE canonical embeddings source (r12): the raw table with the
    malformed-vector contract applied — a vector that is NULL, ragged
    (≠ the corpus's majority dimension), or carries a null/NaN/±inf
    element costs its OWN row and never reaches a kernel. Every batch
    consumer loads through here; the DuckDB oracles state the identical
    filter via ``EMB_VALID_SQL``, so both engines see the same corpus.
    On a clean corpus the filter passes every row and Parquet scan
    pruning is unaffected (it is a post-scan Filter on the list column).

    Degenerate corpus (r12 ADVICE): on an EMPTY or all-NULL embeddings
    table this returns an empty frame with the raw schema — matching
    ``EMB_VALID_SQL``'s empty emb_valid, so a parity sweep over a
    fully-poisoned corpus compares empties instead of crashing the
    Spark side. (The ANN *trainers* — `_ivf_centroids`, streaming
    ann.py — still raise `_majority_dim`'s descriptive error when fed
    a corpus with zero valid rows: an index cannot be trained on
    nothing, and those paths never see this empty frame's rows anyway.)
    Reference anchor: TestMsgJsonSerde.scala:17-22 — the typed decode
    failure costs one record, never the stream."""
    key = _emb_fingerprint(sf_dir)
    if key not in _DIM_CACHE:
        try:
            _DIM_CACHE[key] = _majority_dim(
                load(spark, sf_dir, "embeddings"), col="embedding")
        except ValueError:
            _DIM_CACHE[key] = None      # degenerate corpus: no width
    raw = load(spark, sf_dir, "embeddings")
    if _DIM_CACHE[key] is None:
        return raw.filter(F.lit(False))
    return raw.filter(_valid_emb(_DIM_CACHE[key], col="embedding"))




def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return emb_table(spark, sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )


def cosine(a: str, b: str):
    """cos(a, b) over array<double> columns — JVM-side fold, float64.

    Zero-norm rows score 0.0 (the family convention, matching the exact
    baseline's guard): without it the division yields NaN, which
    Spark's DESCENDING window order ranks FIRST — a degenerate all-zero
    corpus row would take rnk 1 in every bucket/cell it reaches
    (r9 review)."""
    dot = F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (s, v) -> s + v)")
    na = F.expr(f"aggregate({a}, 0D, (s, v) -> s + v * v)")
    nb = F.expr(f"aggregate({b}, 0D, (s, v) -> s + v * v)")
    return F.when((na == F.lit(0.0)) | (nb == F.lit(0.0)), F.lit(0.0)) \
        .otherwise(dot / F.sqrt(na * nb))


#: Input quantization for the EXACT similarity baseline (the
#: q_embed_kmeans rule applied to ranking): components become
#: floor(x·1e6) BIGINTs, so dot/na/nb are exact int64 sums on both
#: engines and the score is ONE double division of exactly-agreed
#: operands — ranking can never diverge by a summation-order ULP the
#: way engine-native float folds (Spark aggregate vs DuckDB
#: list_cosine_similarity) can on near-tied neighbors.
_COS_SCALE = 1_000_000
_QUANT = (f"transform(cast(embedding as array<double>), "
          f"x -> cast(floor(x * {_COS_SCALE}.0D) as bigint))")
_DUCK_QUANT = (f"list_transform(CAST(embedding AS DOUBLE[]), "
               f"x -> CAST(floor(x * {_COS_SCALE}.0) AS BIGINT))")


@query(
    "q_sim_cosine_topk",
    oracle=f"""
        WITH {EMB_VALID_SQL},
        q AS (SELECT vec_id AS query_id, {_DUCK_QUANT} AS qe
                   FROM emb_valid WHERE {_QUERY_FILTER}),
        c AS (SELECT vec_id, {_DUCK_QUANT} AS cv FROM emb_valid),
        pairs AS (SELECT query_id, c.vec_id AS neighbor_id,
                         CAST(list_sum(list_transform(list_zip(qe, cv),
                              p -> p[1] * p[2])) AS BIGINT) AS dot,
                         CAST(list_sum(list_transform(qe, x -> x * x))
                              AS BIGINT) AS na,
                         CAST(list_sum(list_transform(cv, x -> x * x))
                              AS BIGINT) AS nb
                  FROM q, c WHERE c.vec_id <> query_id),
        scored AS (SELECT query_id, neighbor_id,
                          CASE WHEN na = 0 OR nb = 0 THEN 0.0
                               ELSE CAST(dot AS DOUBLE)
                                    / (sqrt(CAST(na AS DOUBLE))
                                       * sqrt(CAST(nb AS DOUBLE))) END AS s
                   FROM pairs),
        ranked AS (SELECT query_id, neighbor_id, round(s, 6) AS cosine,
                          CAST(row_number() OVER (PARTITION BY query_id
                                                  ORDER BY s DESC, neighbor_id)
                               AS BIGINT) AS rnk
                   FROM scored)
        SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {_K}
    """,
    tags=("similarity",),
)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k per query vector (brute-force baseline).

    Query set broadcast; ranking tie-broken by neighbor_id; cosine rounded
    to 6dp on both sides (ranking uses the unrounded value).

    DETERMINISM: inputs are quantized to floor(x·1e6) BIGINTs (see
    _COS_SCALE), so dot and the two squared norms are exact integer sums
    and the score is one double division of exactly-agreed operands —
    bit-identical on both engines, immune to the float-fold
    reassociation ULPs that make ranking on engine-native cosines
    membership-fragile. Quantization moves each cosine by ≤ ~1e-6
    relative (well under any semantic difference for a top-k baseline);
    tests/test_similarity.py checks the value against an independently
    quantized numpy computation.
    """
    e = emb_table(spark, sf_dir).select(
        "vec_id", F.expr(_QUANT).alias("qv"))
    q = e.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qe")
    )
    # spread the corpus before the per-pair interpreted folds: a
    # single parquet file scans as ONE partition and the whole crossJoin
    # serializes onto one core (measured 33s vs 2.6s at sf0.1).
    # (r14 re-measure of the r6 "don't spread the BLAS kernels" pin,
    # VERDICT r13 #7: the IVF/IVFPQ corpus sides have carried spread
    # since r10; toggling it OFF on q_sim_ann_ivfpq measured a WASH —
    # interleaved min-of-5 ×3: ON 2.53/2.31/1.96 s vs OFF
    # 2.60/1.89/2.28 s — because the spread precedes ONE fused
    # projection, so batches stay large. The r6 1.6→5.5 s regression
    # was spreading BETWEEN per-batch BLAS stages, which still holds as
    # the thing not to do. Spread stays: required at single-file
    # layouts, no-op-sized at lake scale.)
    dot, na, nb = _range_dot_norm_cols()   # ONE fold rule, shared with
    pairs = (                              # the range/refine stages
        e.repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot.alias("dot"), na.alias("na"), nb.alias("nb"),
        )
        .select(
            "query_id", "neighbor_id",
            F.when((F.col("na") == 0) | (F.col("nb") == 0), F.lit(0.0))
            .otherwise(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("na").cast("double"))
                   * F.sqrt(F.col("nb").cast("double")))
            ).alias("s"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _K)
        .select("query_id", "neighbor_id", F.round("s", 6).alias("cosine"), "rnk")
    )


# --------------------------------------------------------------------------
# q_sim_range_search — radius search (round 8): FAISS's OTHER core call
# --------------------------------------------------------------------------
#: Cosine radius τ = 1/4 (exact rational): for the synthetic ~N(0, 1/64)
#: cosine distribution this is ≈2σ → ~2% of pairs qualify, so the result
#: set is non-empty yet bounded at every SF. Membership is decided by
#: the EXACT integer predicate 16·dot² ≥ na·nb (dot > 0) over the
#: floor(x·1e6)-quantized vectors — q_dedup_embedding's rule at a
#: different rational threshold; no float ever decides a row, so the
#: query is exactly oracle-checkable (NOT a recall contract).
_RANGE_TAU_NUM = 1
_RANGE_TAU_DEN = 4


def _range_dot_norm_cols(qe: str = "qe", qv: str = "qv"):
    """(dot, na, nb) int64 columns between quantized query column ``qe``
    and quantized corpus column ``qv`` — shared by the exact radius scan
    and the IVF-composed variant so membership is ONE rule."""
    dot = F.expr(f"aggregate(zip_with({qe}, {qv}, (x, y) -> x * y), 0L, "
                 "(s, v) -> s + v)")
    na = F.expr(f"aggregate({qe}, 0L, (s, v) -> s + v * v)")
    nb = F.expr(f"aggregate({qv}, 0L, (s, v) -> s + v * v)")
    return dot, na, nb


def _range_member_expr():
    """The exact integer radius predicate den²·dot² ≥ num²·na·nb
    (dot > 0) in decimal(38,0) — no float ever decides membership.

    A CONSERVATIVE double prefilter leads the conjunction (the
    q_dedup_embedding rule: wide float pre-filter bounding the exact
    arithmetic): den²·dot_d² ≥ 0.998·num²·na_d·nb_d in float64. Double
    products of these ≤6.4e13 operands carry < 1e-15 relative error, so
    the 0.2% margin can never drop a true member — the decimal(38,0)
    comparison still DECIDES every emitted row; it just runs on the few
    % of candidates that survive the cheap double filter instead of the
    whole candidate stream (the 30× proxy measured the all-candidates
    decimal math dominating the composed radius scan's wall)."""
    d2 = "cast(dot as decimal(38,0)) * cast(dot as decimal(38,0))"
    pre = (f"{_RANGE_TAU_DEN * _RANGE_TAU_DEN}.0D * cast(dot as double) "
           f"* cast(dot as double) >= 0.998D * "
           f"{_RANGE_TAU_NUM * _RANGE_TAU_NUM}.0D "
           f"* cast(na as double) * cast(nb as double)")
    return F.expr(
        f"dot > 0 AND na > 0 AND nb > 0 AND ({pre}) AND "
        f"{_RANGE_TAU_DEN * _RANGE_TAU_DEN} * {d2} >= "
        f"{_RANGE_TAU_NUM * _RANGE_TAU_NUM} * "
        f"cast(na as decimal(38,0)) * cast(nb as decimal(38,0))")


def _range_cosine_col():
    """One double division of exactly-agreed integer operands."""
    return F.round(F.col("dot").cast("double")
                   / (F.sqrt(F.col("na").cast("double"))
                      * F.sqrt(F.col("nb").cast("double"))), 6)


@query(
    "q_sim_range_search",
    oracle=f"""
        WITH {EMB_VALID_SQL},
        q AS (SELECT vec_id AS query_id, {_DUCK_QUANT} AS qe
                   FROM emb_valid WHERE {_QUERY_FILTER}),
        c AS (SELECT vec_id, {_DUCK_QUANT} AS cv FROM emb_valid),
        pairs AS (SELECT query_id, c.vec_id AS neighbor_id,
                         CAST(list_sum(list_transform(list_zip(qe, cv),
                              p -> p[1] * p[2])) AS HUGEINT) AS dot,
                         CAST(list_sum(list_transform(qe, x -> x * x))
                              AS HUGEINT) AS na,
                         CAST(list_sum(list_transform(cv, x -> x * x))
                              AS HUGEINT) AS nb
                  FROM q, c WHERE c.vec_id <> query_id)
        SELECT query_id, neighbor_id,
               round(CAST(dot AS DOUBLE)
                     / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))),
                     6) AS cosine
        FROM pairs
        WHERE dot > 0 AND na > 0 AND nb > 0
          AND {_RANGE_TAU_DEN * _RANGE_TAU_DEN} * dot * dot
              >= {_RANGE_TAU_NUM * _RANGE_TAU_NUM} * na * nb
    """,
    tags=("similarity",),
)
def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search: ALL neighbors with cosine ≥ τ per query —
    FAISS's second core operation next to top-k (`range_search`), the
    primitive behind "find every near-duplicate of this document"
    rather than "find the 5 closest".

    DETERMINISM: membership is the exact cross-multiplied integer
    comparison den²·dot² ≥ num²·na·nb over quantized vectors (decimal
    (38,0) on Spark — dot² ≤ 4.1e27 — HUGEINT on DuckDB), and the
    emitted cosine is one double division of exactly-agreed operands:
    the row SET and every value are bit-identical on both engines.

    Scale shape: the exact brute scan is the baseline twin of
    q_sim_cosine_topk (broadcast queries × map-side corpus, no corpus
    shuffle; the predicate prunes to ~2% before anything is emitted —
    no per-query window at all, so this is CHEAPER than top-k at the
    same scan cost). At 100 TB the bucketed path composes the existing
    ANN cell restriction (IVF cells / LSH buckets) with this same exact
    in-cell predicate — q_dedup_embedding's blocked-BLAS kernel is that
    shape with label blocks as the stand-in buckets."""
    e = emb_table(spark, sf_dir).select(
        "vec_id", F.expr(_QUANT).alias("qv"))
    q = e.filter(F.expr(_QUERY_FILTER)).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qe"))
    dot, na, nb = _range_dot_norm_cols()
    return (
        e.repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                dot.alias("dot"), na.alias("na"), nb.alias("nb"))
        .filter(_range_member_expr())
        .select("query_id", "neighbor_id",
                _range_cosine_col().alias("cosine"))
    )


_PLANES_NP = None


def _planes_np():
    global _PLANES_NP
    if _PLANES_NP is None:
        import numpy as np
        _PLANES_NP = np.asarray(_PLANES, dtype=np.float64)  # (L·k, dim)
    return _PLANES_NP


@pandas_udf(ArrayType(IntegerType()))
def lsh_signatures_udf(emb: pd.Series) -> pd.Series:
    """All L table signatures in one vectorized shot per Arrow batch:
    (n, dim) @ (dim, L·k) matmul → sign bits → per-table bit packing.

    This is the sanctioned Python fast path: one BLAS matmul per batch
    beats the JVM higher-order-function formulation (interpreted lambda
    per plane per element, measured ~10× slower) — the signature is a
    dense linear-algebra kernel, exactly what Arrow+numpy is for.
    """
    import numpy as np
    planes = _planes_np()
    M = np.stack(emb.to_numpy())                    # (n, dim) float64
    bits = (M @ planes.T) > 0                       # (n, L·k) bool
    packed = bits.reshape(len(M), _L_TABLES, _K_BITS) @ (
        1 << np.arange(_K_BITS)
    )                                               # (n, L) int
    return pd.Series(list(packed.astype("int32")))


def lsh_buckets(e: DataFrame) -> DataFrame:
    """(vec_id, emb, …) → one row per (table_id, sig) bucket membership."""
    return e.withColumn("sigs", lsh_signatures_udf(F.col("emb"))).select(
        "vec_id", "emb", F.posexplode("sigs").alias("table_id", "sig")
    )


def _ann_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure LSH ANN plan (what ships at 100 TB, and what bench.py
    times): multi-table bucket candidates → exact cosine re-rank.
    Returns (query_id, neighbor_id, cosine, rnk).

    Broadcast shape (r8, the IVFPQ split applied here too): the bucket
    SKELETON (query_id, table, sig) broadcasts without vectors — the
    old frame replicated each query's 512-byte embedding L_TABLES=12×
    through the explode — and the one-row-per-query payload joins by
    query_id. Scoring happens BEFORE the pair dedup, so the
    dropDuplicates exchange carries (ids, one double) instead of both
    full vectors (~60× fewer bytes); duplicate pairs score identically,
    so which duplicate survives cannot matter."""
    e = _emb(spark, sf_dir)
    buckets = lsh_buckets(e)
    qv = e.filter(F.expr(_QUERY_FILTER))
    skel = lsh_buckets(qv).select(
        F.col("vec_id").alias("query_id"),
        F.col("table_id").alias("q_table_id"),
        F.col("sig").alias("q_sig"),
    )
    queries = qv.select(F.col("vec_id").alias("query_id"),
                        F.col("emb").alias("qe"))
    cand = (
        buckets.join(
            F.broadcast(skel),
            (F.col("table_id") == F.col("q_table_id"))
            & (F.col("sig") == F.col("q_sig"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .join(F.broadcast(queries), "query_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                cosine("qe", "emb").alias("s"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("neighbor_id")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _K)
        .select("query_id", "neighbor_id", F.round("s", 6).alias("cosine"), "rnk")
    )


# --------------------------------------------------------------------------
# shared trained-index registry (round 8)
# --------------------------------------------------------------------------
#: Driver-side cache of trained ANN index artifacts — IVF centroid
#: matrices, PQ sub-codebooks, corpus counts — keyed by
#: (applicationId, sf_dir, artifact-id incl. params). This is FAISS's
#: index-build / search split: every artifact is a DETERMINISTIC function
#: of the corpus (hash-sample seed + integer-exact Lloyd), so
#: train-once-serve-many changes no results (bit-identical books and
#: cell layouts) — it only removes repeated training scans when several
#: family members run in one session (bench.py and the driver's
#: correctness pass run q_sim_ann_ivf / _pq / _ivfpq back-to-back; IVFPQ
#: re-derives exactly the codebooks its two parents already trained).
#: The materialize.shared precedent applied to driver-side
#: index state: entries are plain driver data (numpy arrays, lists,
#: ints) — nothing persists on executors, so eviction is free.
#: Warm/cold split documented in BASELINE.md (ANN index-build ledger).
#: entries are (owning SparkSession, value) so the miss-path sweep can
#: drop artifacts keyed by stopped applications (r9 advice: |Q|·k
#: exact-topk pair lists and centroid matrices otherwise linger on the
#: driver until the cap happens to evict them), mirroring
#: materialize's snapshot → probe-outside-lock → reconfirm rule.
_ANN_INDEX_CACHE: dict[tuple[str, str, str], tuple[SparkSession, object]] = {}
_ANN_INDEX_LOCK = threading.Lock()
_ANN_INDEX_CAP = 64

# ---- persisted trained-index store (round 9) ------------------------------
#: FAISS write_index/read_index parity: the trained artifacts that are
#: expensive to rebuild (IVF coarse-quantizer centroids, PQ sub-codebooks,
#: corpus count — all small DETERMINISTIC driver data, bit-stable
#: functions of (corpus, params)) are persisted under the session's
#: warehouse dir keyed by (sf_dir, artifact-id incl. every param), so a
#: FRESH session loads the index instead of retraining — the reference's
#: durable-state-survives-process-death contract
#: (CheckpointOnChunkEndStreamClient.scala:31-44) applied to index state.
#: JSON is exact for every payload: Python json round-trips float64
#: bit-identically (shortest-repr floats) and the PQ books / counts are
#: plain ints. Store is BEST-EFFORT: any read failure falls back to a
#: rebuild (which overwrites), any write failure is ignored — correctness
#: never depends on the disk copy, only build cost does. Writes are
#: atomic (tmp + os.replace), and concurrent writers are harmless because
#: every artifact is deterministic (identical bytes, last-wins).
_ANN_STORE_FMT = "zke_ann_index_v1"

#: once-per-process warn guard (r10 review): a misconfigured
#: SPARK_GRAFT_ANN_INDEX_DIR, an unwritable warehouse, or a
#: non-serializable artifact used to disable the persisted-index
#: feature SILENTLY (fresh sessions quietly retrain). The fallback
#: stays best-effort, but the first failure of each kind now emits a
#: visible warning so the operator can notice the build-cost leak.
_ANN_STORE_WARNED: set = set()


def _ann_store_warn(kind: str, exc: Exception) -> None:
    import warnings

    key = (kind, type(exc).__name__)
    if key in _ANN_STORE_WARNED:
        return
    _ANN_STORE_WARNED.add(key)
    try:
        warnings.warn(
            f"persisted ANN index {kind} failed "
            f"({type(exc).__name__}: {exc}); "
            "falling back to in-session retraining — check "
            "SPARK_GRAFT_ANN_INDEX_DIR / warehouse writability",
            RuntimeWarning, stacklevel=3)
    except Exception:
        # warnings-as-errors (-W error / pytest filterwarnings=error)
        # must not break the no-throw best-effort contract: the store is
        # advisory, and in the store case a valid artifact is already in
        # hand (r10 review)
        pass


def _ann_store_dir(spark: SparkSession) -> str:
    """Directory for persisted index artifacts: the session's warehouse
    (Spark's own durable-local-state location), env-overridable for
    tests/tools via SPARK_GRAFT_ANN_INDEX_DIR."""
    override = os.environ.get("SPARK_GRAFT_ANN_INDEX_DIR")
    if override:
        return override
    wh = spark.conf.get("spark.sql.warehouse.dir")
    if wh.startswith("file:"):
        # file:/path or file:///path — both netloc-less local URIs
        wh = wh[len("file:"):]
        while wh.startswith("//"):
            wh = wh[1:]
    return os.path.join(wh, "zke_ann_index")


def _ann_store_path(spark: SparkSession, sf_real: str,
                    artifact: str) -> str:
    import hashlib

    digest = hashlib.sha256(sf_real.encode()).hexdigest()[:16]
    safe = "".join(c if (c.isalnum() or c in "._-") else "_"
                   for c in artifact)
    return os.path.join(_ann_store_dir(spark), digest, f"{safe}.json")


def _corpus_fingerprint(sf_real: str) -> str:
    """Cheap no-Spark-job fingerprint of the embeddings table a persisted
    index was trained on: sorted (name, size, mtime_ns) of the parquet
    files. A regenerated corpus (new driver round, different seed) gets
    new mtimes, so a stale index reads as a mismatch and retrains — the
    load-if-present seed/params check from the FAISS-parity contract."""
    import hashlib

    root = os.path.join(sf_real, "embeddings.parquet")
    parts = []
    try:
        for dirpath, _, files in sorted(os.walk(root)):
            for f in sorted(files):
                st = os.stat(os.path.join(dirpath, f))
                rel = os.path.relpath(os.path.join(dirpath, f), root)
                parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    except OSError:
        pass
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:32]


def _ann_disk_load(spark: SparkSession, sf_real: str, artifact: str,
                   codec: str):
    """Load a persisted artifact; None on any miss/mismatch/failure.
    The payload self-describes (fmt, sf_dir, artifact, codec): a digest
    collision, a layout change, or a parameter drift all read as a
    mismatch and fall back to retraining."""
    import json

    try:
        with open(_ann_store_path(spark, sf_real, artifact)) as fh:
            p = json.load(fh)
        if (p.get("fmt") != _ANN_STORE_FMT or p.get("sf_dir") != sf_real
                or p.get("artifact") != artifact
                or p.get("codec") != codec
                or p.get("corpus") != _corpus_fingerprint(sf_real)):
            return None
        data = p["data"]
        if codec == "f8_2d":
            import numpy as np
            return np.array(data, dtype=np.float64)
        return data                                    # codec == "json"
    except FileNotFoundError:
        return None                                    # normal cold miss
    except Exception as exc:
        _ann_store_warn("load", exc)
        return None


def _ann_disk_store(spark: SparkSession, sf_real: str, artifact: str,
                    codec: str, value) -> None:
    import json

    try:
        if codec == "f8_2d":
            data = [[float(x) for x in row] for row in value]
        else:
            data = value
        path = _ann_store_path(spark, sf_real, artifact)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
        with open(tmp, "w") as fh:
            json.dump({"fmt": _ANN_STORE_FMT, "sf_dir": sf_real,
                       "artifact": artifact, "codec": codec,
                       "corpus": _corpus_fingerprint(sf_real),
                       "data": data}, fh)
        os.replace(tmp, path)
    except Exception as exc:
        _ann_store_warn("store", exc)


def _ann_cached(spark: SparkSession, sf_dir: str, artifact: str, build,
                disk: str | None = None):
    """Memoize a per-(session, sf_dir) trained index artifact; when
    ``disk`` names a codec ("f8_2d" | "json") the artifact is ALSO
    persisted under the warehouse, so a fresh session loads it instead
    of retraining (see the store rationale above).

    build() runs OUTSIDE the lock (it runs whole Spark jobs); a
    concurrent duplicate build returns a bit-identical value (all
    artifacts are deterministic), so first-registered wins and the
    loser is garbage — no unpersist bookkeeping needed."""
    sf_real = os.path.realpath(sf_dir)
    k = (spark.sparkContext.applicationId, sf_real, artifact)
    with _ANN_INDEX_LOCK:
        if k in _ANN_INDEX_CACHE:
            return _ANN_INDEX_CACHE[k][1]
    # MISS path only: sweep entries owned by stopped sessions. The
    # isStopped py4j probes run on a snapshot OUTSIDE the lock (the r8
    # locking rule); deletion re-confirms identity under the lock.
    with _ANN_INDEX_LOCK:
        items = list(_ANN_INDEX_CACHE.items())
    stale = [sk for sk, (owner, _) in items
             if session_stopped(owner)]
    if stale:
        snap = dict(items)
        with _ANN_INDEX_LOCK:
            for sk in stale:
                cur = _ANN_INDEX_CACHE.get(sk)
                if cur is not None and cur[0] is snap[sk][0]:
                    del _ANN_INDEX_CACHE[sk]
    v = _ann_disk_load(spark, sf_real, artifact, disk) \
        if disk is not None else None
    if v is None:
        v = build()
        if disk is not None:
            _ann_disk_store(spark, sf_real, artifact, disk, v)
    with _ANN_INDEX_LOCK:
        got = _ANN_INDEX_CACHE.setdefault(k, (spark, v))
        v = got[1]
        while len(_ANN_INDEX_CACHE) > _ANN_INDEX_CAP:
            _ANN_INDEX_CACHE.pop(next(iter(_ANN_INDEX_CACHE)))
    return v


def clear_ann_cache() -> int:
    """Forget every in-memory cached trained-index artifact (next access
    reloads from the persisted store if present, else retrains). The
    timing-coldness hook mirroring api.clear_shared_cache."""
    with _ANN_INDEX_LOCK:
        n = len(_ANN_INDEX_CACHE)
        _ANN_INDEX_CACHE.clear()
        return n


_IVF_NLIST = 32      # FIXED centroid count — independent of corpus size
_IVF_NPROBE = 3      # query-side cells probed
_IVF_TRAIN_ITERS = 2  # Lloyd iterations refining the hash-sample seed
_IVF_TRAIN_SCALE = 1_000_000  # component quantization for exact int means

# Measured overall recall@5 vs the exact baseline (deterministic: fixed
# planes / fixed hash-sampled centroids, no run-to-run variance):
#   LSH 0.46 / 0.46 / 0.49 and IVF 0.38 / 0.34 / 0.32 at sf0.001/0.01/0.1.
# The contract floors sit well below every measured point; random 64-d
# vectors are the documented worst case for angle LSH, which is why these
# are recall floors, not 0.9 (planted-duplicate recall is the high bar and
# lives in test_dedup).
_LSH_RECALL_FLOOR = 0.30
_IVF_RECALL_FLOOR = 0.20


def _recall_contract(spark: SparkSession, sf_dir: str,
                     ann_plan: DataFrame, floor: float) -> DataFrame:
    """hll_ok-style bound contract (q_agg_approx_cd pattern) for an ANN
    plan: one row (n_queries, recall_ok) where recall_ok asserts overall
    recall@k vs the exact brute-force top-k is ≥ ``floor``. Every column
    is exactly derivable in ANSI SQL (n_queries from the query-set
    predicate, recall_ok a constant TRUE), so the driver hash-checks the
    bound instead of falling back to a rows-only count.

    The exact baseline's (query, neighbor) top-k pairs are computed ONCE
    per (session, sf_dir) and cached as driver data (r8 review: the four
    ANN contracts each re-ran the brute-force crossJoin — 4× the most
    expensive scan in the family). |Q|·k tuples is measurement-tooling
    state: a production recall evaluation runs over a bounded query
    sample, and these contracts are exactly that evaluation."""
    pairs = _ann_cached(
        spark, sf_dir, f"exact_topk:{_K}",
        lambda: [(r.query_id, r.neighbor_id)
                 for r in q_sim_cosine_topk(spark, sf_dir)
                 .select("query_id", "neighbor_id").collect()])
    return _recall_vs_pairs(spark, sf_dir, ann_plan, floor, pairs)


def _recall_vs_pairs(spark: SparkSession, sf_dir: str,
                     ann_plan: DataFrame, floor: float,
                     pairs: list) -> DataFrame:
    """The contract body shared by the top-k contracts and the radius
    contract: join the ANN plan against a driver-held exact truth set
    and emit one hash-checkable (n_queries, recall_ok) row."""
    exact = spark.createDataFrame(
        pairs, "query_id long, neighbor_id long")
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(ann_plan.select("query_id", "neighbor_id").withColumn(
            "hit", F.lit(1)), ["query_id", "neighbor_id"], "left")
    )
    # n_queries counts the QUERY-FILTER rows directly (what the oracle
    # counts), not distinct queries with truth rows: a degenerate corpus
    # where a query has an empty exact top-k (e.g. one lone query
    # vector) would otherwise report fewer queries than the oracle, and
    # an empty truth set must yield recall_ok TRUE (vacuous), never the
    # NULL that 0/0 produces.
    nq = (
        _emb(spark, sf_dir).filter(F.expr(_QUERY_FILTER))
        .agg(F.count(F.lit(1)).alias("n_queries"))
    )
    agg = hits.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
    )
    return nq.crossJoin(agg).select(
        "n_queries",
        F.coalesce((F.col("n_hits") / F.col("n_truth")) >= F.lit(floor),
                   F.lit(True)).alias("recall_ok"),
    )


_ANN_RECALL_ORACLE = f"""
        WITH {EMB_VALID_SQL}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
        FROM emb_valid WHERE {_QUERY_FILTER}
"""


@query("q_sim_ann_lsh", oracle=_ANN_RECALL_ORACLE,
       tags=("similarity", "approx"), bench_fn=_ann_lsh_plan)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH: exact
    cosine re-rank restricted to bucket-mates (union over L tables of
    same-k-bit-signature sets); sub-linear candidate generation, one
    shuffle keyed by (table_id, sig) — see _ann_lsh_plan, which bench.py
    times.

    The driver-checkable contract is the recall *bound* (hll_ok
    pattern): this form joins the ANN result against the exact top-k and
    emits recall_ok = (overall recall@k ≥ the documented floor) —
    constant TRUE in the DuckDB oracle, so the LSH index quality is
    hash-verified, not rows-only. Absolute recall is additionally
    asserted in tests/test_similarity.py.
    """
    return _recall_contract(
        spark, sf_dir, _ann_lsh_plan(spark, sf_dir), _LSH_RECALL_FLOOR)


def _normalized_centroids(C):
    """Row-normalized centroid matrix with the family's zero-norm guard
    (norm 0 → 1: an all-zero centroid keeps its sims exactly 0 and the
    argsort deterministic). ONE implementation (r9 review: this snippet
    had been copy-pasted at five sites) — the trainer's 'replicates the
    assign UDF verbatim' determinism contract depends on assignment and
    training sharing the exact same guard."""
    import numpy as np

    nrm = np.linalg.norm(C, axis=1, keepdims=True)
    return C / np.where(nrm == 0.0, 1.0, nrm)


def _ivf_assign_udf(Cn, n_cells: int):
    """Pandas UDF assigning each vector its ``n_cells`` nearest centroids
    (one numpy matmul per Arrow batch, (n × nlist) with nlist a constant).
    ``Cn`` is the row-normalized centroid matrix — O(nlist·dim) floats
    shipped in the UDF closure, the FAISS coordinator-codebook shape."""
    import numpy as np

    @pandas_udf(ArrayType(IntegerType()))
    def assign(emb: pd.Series) -> pd.Series:
        X = np.stack(emb.to_numpy())
        # _normalized_centroids applied to the batch: zero-norm rows
        # keep sims exactly 0 and the argsort deterministic (an all-zero
        # vector would otherwise divide to NaN and land in a
        # NaN-ordering-dependent cell)
        Xn = _normalized_centroids(X)
        sims = Xn @ Cn.T                                      # (n, nlist)
        order = np.argsort(-sims, axis=1)[:, :n_cells]
        return pd.Series(list(order.astype("int32")))
    return assign


#: Coarse-quantizer training sample: the SAME bounded hash-sample size
#: the PQ trainer uses (the FAISS convention — codebook quality
#: saturates long before the corpus does, and index-build cost must not
#: grow with corpus size). Round-8 fix: the round-7 IVF trainer
#: re-scanned the FULL corpus once per Lloyd iteration (an O(n·iters)
#: index build — the exact scale bug the PQ trainer had already fixed);
#: training now runs driver-side over the collected sample. At every
#: committed SF (n ≤ 2000 < 2048) the sample IS the corpus, so the
#: trained centroids are bit-identical to the distributed trainer's
#: (asserted before the switch); beyond the sample bound, FAISS-style
#: sampled training takes over.
_IVF_TRAIN_SAMPLE = 2048


def _train_ivf_centroids(X, C0, iters: int):
    """Driver-side integer-exact Lloyd over the bounded training sample
    ``X`` (sample × dim float64; ≤ _IVF_TRAIN_SAMPLE rows — O(sample·
    nlist·dim) driver work, constant in corpus size). Assignment
    replicates _ivf_assign_udf's numpy ops verbatim (same row
    normalization, same dgemm shape — the UDF saw the whole corpus as
    one Arrow batch at these sample sizes — same argsort tie rule); the
    mean update keeps q_embed_kmeans' determinism rule: SCALED-INTEGER
    component sums (int64, associative) and toward-zero truncated
    integer means, so the trained codebook (hence cell layout and
    recall) is run-to-run stable. Empty cells keep their previous
    centroid. Overflow bound: |component| ≤ ~few·SCALE(1e6) and the
    sample is ≤ 2048 rows ⇒ sums stay far inside int64."""
    import numpy as np

    C = C0.astype(np.float64)
    Xn = _normalized_centroids(X)  # the _ivf_assign_udf guard
    # Spark's (x * SCALE).cast("long"): double multiply, truncate
    # toward zero — numpy astype(int64) truncates toward zero too
    Xi = (X * _IVF_TRAIN_SCALE).astype(np.int64)
    for _ in range(iters):
        Cn = _normalized_centroids(C)
        cell = np.argsort(-(Xn @ Cn.T), axis=1)[:, 0]
        newC = C.copy()
        for c in range(C.shape[0]):
            m = cell == c
            if m.any():
                s = Xi[m].sum(axis=0)
                n = int(m.sum())
                # toward-zero truncated integer mean (Spark DIV
                # semantics), then back to float once per cell/dim
                newC[c] = np.where(s >= 0, s // n,
                                   -((-s) // n)) / _IVF_TRAIN_SCALE
        C = newC
    return C


def _ivf_centroids(spark: SparkSession, sf_dir: str, e: DataFrame,
                   train_iters: int, nlist: int = _IVF_NLIST):
    """Trained coarse-quantizer centroid matrix (nlist × dim float64),
    memoized per (session, sf_dir, nlist, train_iters) — q_sim_ann_ivf
    and q_sim_ann_ivfpq share one trained quantizer instead of each
    re-running the seed collect + Lloyd scans (deterministic, so the
    shared matrix is bit-identical to what each would train alone).

    ``nlist`` is the FAISS production dial (r10, verdict item 2): the
    registered queries keep the fixed default, but the scale-proxy
    harness passes larger values to measure the claimed nlist ∝ √n
    candidate-fraction/recall recovery. The artifact id carries nlist,
    so differently-sized quantizers never collide in the registry or on
    disk."""
    import numpy as np

    def build():
        # Train on the VALIDITY-FILTERED corpus (r11 ADVICE): the
        # streaming ivf_index trains on filtered rows while the batch
        # plans passed the raw frame — under the shared artifact key
        # whichever path trained first won, so batch-trained
        # NaN-poisoned centroids could be served to the stream despite
        # its own poison filter. Filtering HERE makes every caller
        # train on the same cleaned sample (idempotent for callers
        # that already filtered); the ":vf" key marker below retires
        # any unfiltered artifact.
        ev = e.filter(_valid_emb(_majority_dim(e)))
        # ONE bounded collect serves seed + training set: the first
        # nlist rows of the hash-ordered sample are exactly the rows
        # limit(nlist) would return (same global order). The sample
        # plan is a TakeOrderedAndProject — executors each keep their
        # local top-sample by hash, the driver merges ≤ sample rows.
        rows = (
            ev.select("vec_id", "emb")
            .orderBy(F.xxhash64("vec_id"), "vec_id")
            .limit(max(_IVF_TRAIN_SAMPLE, nlist) if train_iters > 0
                   else nlist)
            .collect()
        )
        X = np.stack([r.emb for r in rows])               # (sample, dim)
        C = X[:nlist].copy()                              # (nlist, dim)
        if train_iters > 0:
            C = _train_ivf_centroids(X, C, train_iters)
        return C

    # the artifact id carries EVERY constant the trained value depends
    # on (r9 review: a tuned sample size or quantization scale must
    # invalidate the persisted copy, not silently serve a stale index)
    return _ann_cached(
        spark, sf_dir,
        f"ivfC:{nlist}:{train_iters}:s{_IVF_TRAIN_SAMPLE}"
        f":q{_IVF_TRAIN_SCALE}:vf", build,
        disk="f8_2d")


def _ann_ivf_plan(spark: SparkSession, sf_dir: str,
                  train_iters: int = _IVF_TRAIN_ITERS,
                  nlist: int = _IVF_NLIST) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the second scale path next
    to LSH (q_sim_ann_lsh).

    Coarse quantizer = a TRAINED codebook: seeded by the nlist=32 corpus
    vectors with the smallest xxhash64(vec_id) (a deterministic
    fixed-size hash-sample; the seed plan is a TakeOrderedAndProject —
    executors each keep their local top-nlist by hash, the driver merges
    nlist rows total), then refined by ``train_iters`` Lloyd rounds
    (_train_ivf_centroids — q_embed_kmeans' integer-exact mean update at
    IVF's nlist; pass train_iters=0 for the raw hash-sample baseline).
    Driver-side state stays O(nlist·dim) floats NO MATTER the corpus
    size. This is the FAISS shape: a small trained codebook on the
    coordinator, assignment fully distributed. Cell assignment is one
    numpy matmul per Arrow batch ((n × nlist), bounded because nlist is
    a constant); the probe joins queries (exploded over their nprobe
    nearest cells) to corpus vectors on cell id — ONE shuffle keyed by
    cell, candidate count ≈ corpus·nprobe/nlist per query
    (nprobe=3/nlist=32 ≈ 9% of the corpus; recall/cost dial). Exact
    cosine re-rank inside cells; recall vs the brute-force baseline —
    and trained ≥ hash-sample baseline — asserted in
    tests/test_similarity.py.
    """
    e = _emb(spark, sf_dir)
    C = _ivf_centroids(spark, sf_dir, e, train_iters, nlist)
    Cn = _normalized_centroids(C)
    nprobe = min(_IVF_NPROBE, C.shape[0])

    def make_assign(n_cells: int):
        return _ivf_assign_udf(Cn, n_cells)

    # spread (r10, the r6 per-file-kernel rule): when the small query
    # side broadcasts, the per-candidate cosine arithmetic runs INSIDE
    # the corpus scan stage — a single-parquet-file corpus then
    # serializes the whole probe onto one core (measured at the 30×
    # proxy). The repartition is no-op-sized at lake scale.
    corpus = spread(spark, e) \
        .withColumn("cells", make_assign(1)(F.col("emb"))) \
        .select("vec_id", "emb", F.element_at("cells", 1).alias("cell"))
    queries = (
        e.filter(F.expr(_QUERY_FILTER))
        .withColumn("cells", make_assign(nprobe)(F.col("emb")))
        .select(F.col("vec_id").alias("query_id"),
                F.col("emb").alias("qe"),
                F.explode("cells").alias("cell"))
    )
    # no dropDuplicates (r9 review — it cost a full exchange over the
    # candidate stream for pairs that CANNOT repeat): each corpus row
    # lives in exactly ONE cell and a query's probed cells are distinct
    # argsort indices, so a (query, neighbor) pair appears at most once
    # — the same invariant _range_search_ann_plan documents.
    cand = (
        corpus.join(queries, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                cosine("qe", "emb").alias("s"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= _K)
        .select("query_id", "neighbor_id",
                F.round("s", 6).alias("cosine"), "rnk")
    )


@query("q_sim_ann_ivf", oracle=_ANN_RECALL_ORACLE,
       tags=("similarity", "approx"), bench_fn=_ann_ivf_plan)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with the hash-checkable recall contract
    (see q_sim_ann_lsh and _ann_ivf_plan — bench.py times the pure IVF
    plan): one row asserting overall recall@k vs the exact baseline is
    ≥ the documented floor, constant TRUE in the DuckDB oracle."""
    return _recall_contract(
        spark, sf_dir, _ann_ivf_plan(spark, sf_dir), _IVF_RECALL_FLOOR)


# --------------------------------------------------------------------------
# q_sim_range_search_ann (round 9) — IVF-composed radius search
# --------------------------------------------------------------------------
#: More cells than top-k IVF: a radius set reaches deeper into the
#: neighborhood than the top-5, so the probe needs wider coverage (the
#: IVFPQ convention). Recall measured vs the exact radius set
#: (deterministic — trained centroids + exact integer membership):
#: see _RANGE_ANN_RECALL_FLOOR.
_RANGE_ANN_NPROBE = 8
# Measured radius-set recall vs the exact truth (deterministic — trained
# centroids + exact integer membership, zero false positives at every
# SF): 0.643 / 0.583 / 0.529 at sf0.001/0.01/0.1 with nprobe=8/nlist=32
# — cells concentrate radius neighbors well above the 25% candidate
# fraction. Floor sits below every measured point (family convention).
_RANGE_ANN_RECALL_FLOOR = 0.30


def _range_search_ann_plan(spark: SparkSession, sf_dir: str,
                           train_iters: int = _IVF_TRAIN_ITERS,
                           nlist: int = _IVF_NLIST,
                           nprobe: int = _RANGE_ANN_NPROBE) -> DataFrame:
    """IVF-composed radius search — the 100 TB path the exact scan's
    docstring promises (FAISS IndexIVF.range_search): probed cells
    restrict WHICH pairs are tested, the SAME exact integer predicate
    (den²·dot² ≥ num²·na·nb, decimal(38,0)) decides membership in-cell —
    so every emitted row is exactly correct; only coverage is
    approximate (a neighbor outside the probed cells is missed, the
    FAISS semantic).

    Scale shape vs the exact twin: the brute scan broadcasts |Q| = n/50
    queries against every corpus row — the broadcast GROWS with the
    corpus and the candidate stream is |Q|·n. Here the corpus keys by
    its ONE nearest cell and queries explode over nprobe cells: one
    cell-keyed equi-join (no corpus broadcast, no crossJoin), candidate
    stream ≈ |Q|·n·nprobe/nlist — the same (nprobe/nlist) fraction the
    IVFPQ proxy measured EXACTLY flat at 1×/10×/30×/100×. Production
    dial (CORRECTED by the r10 measurement, BASELINE.md r10 tables):
    radius coverage tracks the fraction — there is no refine stage to
    recover it — so nlist grows ∝ √n WITH nprobe scaled to hold
    nprobe/nlist; at equal fraction, finer cells IMPROVE recall
    (0.475→0.532 over nlist 32→128 at the 100× proxy) at
    equal-or-lower wall. The earlier ledger form ("recall recovered by
    growing nlist alone") is true only for the top-k IVFPQ plan, whose
    capped exact refine absorbs the thinner stream. The trained-index
    registry keeps training O(sample) at any nlist.
    The cell-keyed shuffle carries full quantized
    vectors (unlike IVFPQ's codes) because range membership is EXACT,
    not ranked — there is no shortlist to refine, so the vector must be
    present where the predicate runs."""
    e = _emb(spark, sf_dir)
    C = _ivf_centroids(spark, sf_dir, e, train_iters, nlist)
    Cn = _normalized_centroids(C)
    nprobe = min(nprobe, C.shape[0])
    quant = F.expr(_QUANT.replace("embedding", "emb"))
    # spread (r10): with the query side broadcast the exact-integer
    # membership arithmetic runs inside the corpus scan stage; a
    # single-file corpus otherwise serializes it onto one core (the r6
    # per-file-kernel rule, measured at the 30× proxy).
    corpus = (
        spread(spark, e)
        .withColumn("cells", _ivf_assign_udf(Cn, 1)(F.col("emb")))
        .select("vec_id", quant.alias("qv"),
                F.element_at("cells", 1).alias("cell"))
    )
    queries = (
        e.filter(F.expr(_QUERY_FILTER))
        .withColumn("cells", _ivf_assign_udf(Cn, nprobe)(F.col("emb")))
        .select(F.col("vec_id").alias("query_id"), quant.alias("qe"),
                F.explode("cells").alias("cell"))
    )
    dot, na, nb = _range_dot_norm_cols()
    # no dropDuplicates: each corpus row lives in exactly ONE cell and a
    # query's probed cells are distinct, so a (query, neighbor) pair can
    # appear at most once
    return (
        corpus.join(queries, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                dot.alias("dot"), na.alias("na"), nb.alias("nb"))
        .filter(_range_member_expr())
        .select("query_id", "neighbor_id",
                _range_cosine_col().alias("cosine"))
    )


def _exact_radius_pairs(spark: SparkSession, sf_dir: str) -> list:
    """Driver-cached exact radius truth set (the q_sim_range_search
    result — ~2% of pairs at τ=1/4, bounded at every committed SF), the
    exact_topk precedent applied to radius search."""
    return _ann_cached(
        spark, sf_dir,
        f"exact_radius:{_RANGE_TAU_NUM}/{_RANGE_TAU_DEN}",
        lambda: [(r.query_id, r.neighbor_id)
                 for r in q_sim_range_search(spark, sf_dir)
                 .select("query_id", "neighbor_id").collect()])


@query("q_sim_range_search_ann", oracle=_ANN_RECALL_ORACLE,
       tags=("similarity", "approx"), bench_fn=_range_search_ann_plan)
def q_sim_range_search_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-composed radius search with the hash-checkable recall-bound
    contract (the q_sim_ann_* pattern): one row asserting overall
    radius-set recall vs the exact q_sim_range_search truth is ≥ the
    documented floor — constant TRUE in the DuckDB oracle; bench.py
    times the pure composed plan (_range_search_ann_plan). Every
    emitted pair is exactly correct (same integer predicate); the
    contract grades COVERAGE, the only approximate axis."""
    return _recall_vs_pairs(
        spark, sf_dir, _range_search_ann_plan(spark, sf_dir),
        _RANGE_ANN_RECALL_FLOOR, _exact_radius_pairs(spark, sf_dir))


# --------------------------------------------------------------------------
# q_sim_ann_pq — PQ-ADC approximate top-k with exact refine (round 7)
# --------------------------------------------------------------------------
_PQ_ANN_M = 4        # subspaces (64-d → four 16-d slices; 16 bits/vector)
_PQ_ANN_K = 16       # codebook entries per subspace
_PQ_ANN_SUB = 16
_PQ_ANN_REFINE = 100        # ADC shortlist floor per query
#: Shortlist scales with the corpus (2%) UP TO A CONSTANT CAP: a fixed
#: window covers a shrinking corpus fraction as data grows (recall
#: decays — measured, see the recall table below), so R grows with n
#: through the test/proxy scales; but an UNCAPPED R ∝ n would make the
#: exact-refine stage O(n·dim) per query — asymptotically brute force.
#: The FAISS convention is a bounded reorder window (reorder_k: a
#: constant multiple of k, never a corpus fraction) with recall at
#: scale recovered via nprobe / training quality, so R is capped at
#: _PQ_ANN_REFINE_CAP: per-query refine cost is O(cap·dim) = O(1) in
#: corpus size. At sf0.001-0.1 (n ≤ ~5k) R = 100; at the 10× proxy
#: (n ≈ 50k) R = 1000; the cap binds just beyond that.
_PQ_ANN_REFINE_FRAC = 0.02
_PQ_ANN_REFINE_CAP = 1024
# Measured overall recall@5 vs the exact baseline (deterministic —
# seeded + integer-Lloyd-trained codebooks, no run-to-run variance):
# trained 0.68 / 0.78 / 0.41 at sf0.001/0.01/0.1 (raw hash-sample:
# 0.66 / 0.74 / 0.27 — training buys +52% relative where the corpus is
# largest; random 64-d vectors are the documented worst case, and a
# FIXED refine window covers a shrinking corpus fraction as sf grows).
# Floor sits below every measured point, the LSH/IVF convention.
_PQ_ANN_RECALL_FLOOR = 0.20


_PQ_ANN_TRAIN_ITERS = 2    # Lloyd rounds per subspace (0 = raw hash-sample)
#: Training-set size: a BOUNDED deterministic hash-sample (the FAISS
#: convention — codebook quality saturates long before the corpus does,
#: and training cost must not grow with corpus size; the interpreted
#: literal-argmin coder is O(M·K·subdim) per row, affordable on 2k rows
#: at any scale, not on the full corpus).
_PQ_ANN_TRAIN_SAMPLE = 2048


def _pq_subdist(s: int, c: list[int]) -> str:
    """Exact integer squared distance between subvector ``s`` of the
    quantized column ``qv`` and the literal codebook entry ``c``.

    Deliberately an aggregate() fold, NOT unrolled flat arithmetic: the
    z-order unroll rule inverts at this expression count — 16 codebook
    structs × 16 unrolled terms × (coder + 4 LUTs) generated a 28k-line
    codegen class that FAILED to compile (JVM method limits), dropping
    the whole stage to interpreted mode (measured 4.8 → 20-31 s at
    sf0.1). The fold keeps the generated class small enough to compile;
    per-element interpretation is the cheaper side of that cliff."""
    lo = s * _PQ_ANN_SUB + 1
    lits = ", ".join(str(int(x)) for x in c)
    return (f"aggregate(zip_with(slice(qv, {lo}, {_PQ_ANN_SUB}), "
            f"array({lits}), (x, y) -> (x - y) * (x - y)), "
            f"0L, (acc, t) -> acc + t)")


def _pq_code_col(books: list, s: int):
    """argmin-by-L2 code for subspace ``s`` — the literal-codebook JVM
    expression shared by the coder and the trainer (assignment and
    coding MUST use the same rule or training optimizes the wrong
    objective)."""
    structs = ", ".join(
        f"named_struct('d', {_pq_subdist(s, c)}, 'c', {j})"
        for j, c in enumerate(books[s]))
    return F.expr(f"array_min(array({structs})).c")


def _train_pq_books(V, books: list, iters: int) -> list:
    """Per-subspace Lloyd refinement of the PQ codebooks, driver-side
    over the bounded training sample ``V`` (sample × dim int64 — the
    quantized vectors; ≤ _PQ_ANN_TRAIN_SAMPLE rows). Round-8 shape:
    the round-7 trainer ran each iteration as a Spark job over the same
    ≤2048-row persisted sample — two full plan-analysis + job cycles of
    a 4×16-struct interpreted argmin expression (~3 s of fixed overhead
    for microseconds of arithmetic); the arithmetic is EXACTLY
    replicated here. Assignment: exact int64 squared distances, argmin
    with first-minimum tie-break — identical to the coder's
    array_min(named_struct(d, c)) rule (min distance, then min code).
    Update: toward-zero truncated integer means of int64 component sums
    (associative — bit-stable run to run). Empty cells keep their
    previous entry. Driver work: O(sample·K·dim) per iteration,
    constant in corpus size."""
    import numpy as np

    books = [np.asarray(b, dtype=np.int64) for b in books]
    for _ in range(iters):
        new_books = []
        for s, B in enumerate(books):
            sub = V[:, s * _PQ_ANN_SUB:(s + 1) * _PQ_ANN_SUB]
            d = ((sub[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
            code = d.argmin(axis=1)          # first min = smallest code
            nb = B.copy()
            for c in range(B.shape[0]):
                m = code == c
                if m.any():
                    sx = sub[m].sum(axis=0)
                    n = int(m.sum())
                    # toward-zero truncated integer mean (the
                    # q_embed_kmeans convention)
                    nb[c] = np.where(sx >= 0, sx // n, -((-sx) // n))
            new_books.append(nb)
        books = new_books
    return [[[int(x) for x in row] for row in b] for b in books]


def _pq_trained_books(spark: SparkSession, sf_dir: str, q: DataFrame,
                      train_iters: int) -> list:
    """Trained per-subspace PQ codebooks, memoized per
    (session, sf_dir, M, K, train_iters) — q_sim_ann_pq and
    q_sim_ann_ivfpq share one trained set instead of each re-running the
    seed collect + Lloyd training (deterministic integer training ⇒ the
    shared books are bit-identical). ONE bounded collect serves seed +
    training set (the first K rows of the hash-ordered sample are
    exactly what limit(K) returns)."""
    def build():
        import numpy as np

        rows = (q.orderBy(F.xxhash64("vec_id"), "vec_id")
                .limit(_PQ_ANN_TRAIN_SAMPLE if train_iters > 0
                       else _PQ_ANN_K)
                .collect())
        books = [[list(r.qv[s * _PQ_ANN_SUB:(s + 1) * _PQ_ANN_SUB])
                  for r in rows[:_PQ_ANN_K]] for s in range(_PQ_ANN_M)]
        if train_iters > 0:
            V = np.array([r.qv for r in rows], dtype=np.int64)
            books = _train_pq_books(V, books, train_iters)
        return books

    # every value-determining constant in the id (r9 review; see ivfC)
    return _ann_cached(
        spark, sf_dir,
        f"pqB:{_PQ_ANN_M}x{_PQ_ANN_K}:{train_iters}"
        f":s{_PQ_ANN_TRAIN_SAMPLE}:sub{_PQ_ANN_SUB}:q{_COS_SCALE}", build,
        disk="json")


def _corpus_count(spark: SparkSession, sf_dir: str, q: DataFrame) -> int:
    """Corpus row count, memoized per (session, sf_dir): sizing the
    refine window needs n once per session, not one eager count job per
    plan build (the round-7 shape paid it on every PQ/IVFPQ call)."""
    return _ann_cached(spark, sf_dir, "n", lambda: q.count(),
                       disk="json")


def _refine_window(spark: SparkSession, sf_dir: str, q: DataFrame) -> int:
    """Bounded ADC shortlist size: max(floor, min(2%·n, cap)) — see the
    _PQ_ANN_REFINE_CAP rationale. Deterministic, so the recall contract
    stays hash-checkable."""
    n = _corpus_count(spark, sf_dir, q)
    return max(_PQ_ANN_REFINE,
               min(int(n * _PQ_ANN_REFINE_FRAC), _PQ_ANN_REFINE_CAP))


def _pq_lut_col(books: list, s: int):
    """Per-query K-entry integer LUT for subspace ``s`` (exact squared
    sub-distances from the query's ``qv`` to every codebook entry)."""
    entries = ", ".join(_pq_subdist(s, c) for c in books[s])
    return F.expr(f"array({entries})")


def _pq_adc_col():
    """ADC distance: M array lookups + adds over lut{s}/c{s} columns."""
    return sum(
        (F.element_at(f"lut{s}", F.col(f"c{s}") + 1)
         for s in range(1, _PQ_ANN_M)),
        F.element_at("lut0", F.col("c0") + 1))


def _ann_pq_plan(spark: SparkSession, sf_dir: str,
                 train_iters: int = _PQ_ANN_TRAIN_ITERS) -> DataFrame:
    """Product-quantization ADC search (FAISS IndexPQ + refine): the
    third ANN engine next to LSH and IVF, covering the memory-bound
    regime — the corpus is represented by M·log2(K) = 16 BITS per vector
    during the scan, not 512 bytes of floats.

    Index: per-subspace codebooks seeded by the IVF hash-sample rule
    (xxhash64 order — deterministic), then Lloyd-refined per subspace
    in the exact integer domain (``_train_pq_books``; pass
    train_iters=0 for the raw hash-sample baseline) — O(M·K·subdim)
    driver state either way. Corpus codes are ONE stateless scan with
    the codebooks as literals (api.pq_assign's kernel) — zero shuffles,
    the map-side-codes shape PQ runs at 100 TB.

    Search (asymmetric distance computation): each query precomputes a
    K-entry lookup table of exact integer sub-distances per subspace;
    the candidate stream is corpus codes × broadcast queries, scoring
    each pair with M array lookups + adds — O(1) per candidate instead
    of O(dim), and the stream carries (ids, 2 codes), never vectors.
    The per-query ADC shortlist — max(100, min(2% of the corpus, 1024)),
    proportional through the test scales so recall does not decay, then
    CAPPED so the refine stays O(1) in corpus size (the FAISS
    bounded-reorder_k convention; see _PQ_ANN_REFINE_CAP) —
    (WindowGroupLimit pushes the rank filter map-side) is then
    re-ranked EXACTLY: the
    shortlist-sized frame joins back the quantized vectors and scores
    with the integer-exact cosine of q_sim_cosine_topk — so the output
    ranking is deterministic and parity-safe even though ADC distances
    are approximate.

    DETERMINISM: codebooks, codes, LUTs, ADC distances, and the refine
    cosine are all exact integer arithmetic on floor(x·1e6) components
    (|dot| ≤ 64·1e12 < 2⁵³); every tie breaks on neighbor_id."""
    e = _emb(spark, sf_dir)
    q = e.select("vec_id", F.expr(_QUANT.replace("embedding", "emb"))
                 .alias("qv"))
    # spread before the per-row interpreted code folds (materialize.spread:
    # a single parquet file scans as ONE partition and the whole ADC scan
    # serializes onto one core — measured 4.0 s → 2.6 s warm at sf0.1).
    # Codes only: the candidate stream must never carry vectors.
    qs = spread(spark, q)
    refine = _refine_window(spark, sf_dir, q)
    books = _pq_trained_books(spark, sf_dir, q, train_iters)

    corpus = qs.select(
        "vec_id",
        *[_pq_code_col(books, s).alias(f"c{s}") for s in range(_PQ_ANN_M)])
    queries = (
        q.filter(F.expr(_QUERY_FILTER))
        .select(F.col("vec_id").alias("query_id"),
                F.col("qv").alias("qqv"),
                *[_pq_lut_col(books, s).alias(f"lut{s}")
                  for s in range(_PQ_ANN_M)])
    )
    # ADC scan: broadcast query set × corpus CODES (the q_sim_cosine_topk
    # crossJoin shape — corpus streams map-side, nothing shuffles but the
    # 24-byte-per-row candidate stream into the per-query top-R window)
    cand = (
        corpus.select("vec_id", *[f"c{s}" for s in range(_PQ_ANN_M)])
        .crossJoin(F.broadcast(queries.drop("qqv")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                _pq_adc_col().alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id"))
    short = (
        cand.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= refine)
        .select("query_id", "neighbor_id")
    )
    return _exact_refine_topk(q, queries, short)


def _exact_refine_topk(q: DataFrame, queries: DataFrame,
                       short: DataFrame) -> DataFrame:
    """Exact integer-cosine re-rank of an ADC shortlist → final top-k:
    shortlist-sized joins only (|Q|·R rows re-read their vectors from
    ``q``; the full corpus never moves). Shared by the PQ and IVFPQ
    engines — the FAISS 'refine with stored vectors' stage."""
    refined = (
        short.join(q.select(F.col("vec_id").alias("neighbor_id"),
                            F.col("qv").alias("nv")), "neighbor_id")
        .join(F.broadcast(queries.select("query_id", "qqv")), "query_id")
    )
    dot, na, nb = _range_dot_norm_cols("qqv", "nv")  # the ONE fold rule
    s_col = F.when((na == F.lit(0)) | (nb == F.lit(0)), F.lit(0.0)) \
        .otherwise(dot.cast("double")
                   / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("neighbor_id"))
    return (
        refined.select("query_id", "neighbor_id", s_col.alias("s"))
        .withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= _K)
        .select("query_id", "neighbor_id",
                F.round("s", 6).alias("cosine"), "rnk")
    )


@query("q_sim_ann_pq", oracle=_ANN_RECALL_ORACLE,
       tags=("similarity", "approx"), bench_fn=_ann_pq_plan)
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k with the hash-checkable recall contract
    (see _ann_pq_plan — bench.py times the pure ADC+refine plan): one
    row asserting overall recall@k vs the exact baseline is ≥ the
    documented floor, constant TRUE in the DuckDB oracle. Completes the
    ANN family's FAISS shape: LSH (hash-bucketed), IVF (cell-probed),
    PQ (code-compressed ADC scan + exact refine)."""
    return _recall_contract(
        spark, sf_dir, _ann_pq_plan(spark, sf_dir), _PQ_ANN_RECALL_FLOOR)


# --------------------------------------------------------------------------
# q_sim_ann_ivfpq — the composed FAISS production index (round 7)
# --------------------------------------------------------------------------
# IVF restricts WHICH vectors each query scores (nprobe cells ≈ 9% of
# the corpus — the sub-linear axis); PQ restricts WHAT the scan reads
# per candidate (16-bit codes + O(1) table lookups — the memory axis).
# Composed, the candidate stream is nprobe/nlist of the corpus at codes
# width: the shape a 100 TB vector index actually runs.
_IVFPQ_NPROBE = 8  # more cells than plain IVF: PQ scoring is ~free per
#                    candidate, so spend the budget on coverage
# Measured overall recall@5 vs the exact baseline (deterministic):
# 0.70 / 0.62 / 0.475 at sf0.001/0.01/0.1 — ABOVE pure PQ's 0.41 at
# sf0.1: the probed cells concentrate the shortlist on genuinely near
# candidates. Floor below every measured point, the family convention.
_IVFPQ_RECALL_FLOOR = 0.30


def _ann_ivfpq_plan(spark: SparkSession, sf_dir: str,
                    train_iters: int = _PQ_ANN_TRAIN_ITERS,
                    nlist: int = _IVF_NLIST,
                    nprobe: int = _IVFPQ_NPROBE) -> DataFrame:
    """IVFPQ: Lloyd-trained coarse quantizer (the q_sim_ann_ivf
    machinery) assigns every vector ONE cell; Lloyd-trained per-subspace
    PQ codebooks (the q_sim_ann_pq machinery) give it a 16-bit code.
    Queries probe their ``_IVFPQ_NPROBE`` nearest cells and ADC-score
    only those cells' codes via per-query integer lookup tables; the
    shortlist (max(100, min(2%·corpus, 1024)) per query — capped, see
    _PQ_ANN_REFINE_CAP) is exactly re-ranked.

    Scale shape: both codebooks are O(driver) literals trained on
    bounded hash-samples, trained ONCE per session (shared index
    registry — q_sim_ann_ivf/_pq trained them already in a bench or
    correctness pass; the FAISS index-build/search split); corpus
    cells+codes are one stateless scan; the candidate join is ONE
    shuffle keyed by cell whose stream carries (ids, 2-byte codes) —
    vector-free, the composed FAISS IVFADC layout. Per-query cost:
    (nprobe/nlist)·n candidates at code width (a FIXED 25% fraction at
    the default nlist=32) + an O(cap) exact refine; at real scale
    nlist grows ∝ √n with nprobe fixed (the FAISS rule — training cost
    stays bounded because the sample is fixed-size), which is what
    makes the scanned fraction, and hence per-query work, shrink
    relative to brute force. MEASURED r10 (BASELINE.md r10 tables): at
    the 100× proxy, nlist 32→64→128 cuts the wall 74→30→25 s with
    recall@5 flat (0.340/0.348/0.328, floor 0.30) — the capped refine
    recovers what the thinner candidate stream loses, so the dial is
    real for top-k (radius search needs the equal-fraction form; see
    _range_search_ann_plan). DETERMINISM: exact integer throughout
    (trained centroids/books integer-exact, ADC integer, refine the
    shared exact-cosine stage).

    Broadcast shape (round-8 fix): the per-query LUT frame (|Q| rows ×
    4 K-entry LUTs) and the probe skeleton (|Q|·nprobe (query, cell)
    pairs) broadcast SEPARATELY and meet only per-candidate — the LUTs
    are not duplicated nprobe× through the explode."""
    e = _emb(spark, sf_dir)
    q = e.select("vec_id", F.expr(_QUANT.replace("embedding", "emb"))
                 .alias("qv"))
    refine = _refine_window(spark, sf_dir, q)

    # coarse quantizer + PQ codebooks: both from the shared trained-
    # index registry (bit-identical to training inline; see helpers)
    C = _ivf_centroids(spark, sf_dir, e, train_iters, nlist)
    Cn = _normalized_centroids(C)
    nprobe = min(nprobe, C.shape[0])
    books = _pq_trained_books(spark, sf_dir, q, train_iters)

    # corpus: ONE scan → (vec_id, cell, codes); the inverted lists.
    # Cell (pandas-UDF matmul on emb) and codes (JVM folds on the
    # inline-quantized qv) come from the SAME projection — the round-7
    # shape joined a separate cell frame back to qs on vec_id, a
    # corpus-sized shuffle join the single scan replaces (round 8).
    corpus = (
        spread(spark, e.select("vec_id", "emb"))
        .withColumn("qv", F.expr(_QUANT.replace("embedding", "emb")))
        .withColumn("cell",
                    F.element_at(_ivf_assign_udf(Cn, 1)(F.col("emb")), 1))
        .select("vec_id", "cell",
                *[_pq_code_col(books, s).alias(f"c{s}")
                  for s in range(_PQ_ANN_M)])
    )
    # per-query LUTs: ONE row per query (no nprobe duplication) …
    queries = (
        q.filter(F.expr(_QUERY_FILTER))
        .select(F.col("vec_id").alias("query_id"),
                F.col("qv").alias("qqv"),
                *[_pq_lut_col(books, s).alias(f"lut{s}")
                  for s in range(_PQ_ANN_M)])
    )
    # … and the probe skeleton: (query_id, cell) pairs only
    skel = (
        e.filter(F.expr(_QUERY_FILTER))
        .withColumn("cells", _ivf_assign_udf(Cn, nprobe)(F.col("emb")))
        .select(F.col("vec_id").alias("query_id"),
                F.explode("cells").alias("cell"))
    )
    cand = (
        corpus.join(F.broadcast(skel), "cell")
        .join(F.broadcast(queries.drop("qqv")), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                _pq_adc_col().alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id"))
    short = (
        cand.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= refine)
        .select("query_id", "neighbor_id")
    )
    return _exact_refine_topk(q, queries.select("query_id", "qqv"), short)


@query("q_sim_ann_ivfpq", oracle=_ANN_RECALL_ORACLE,
       tags=("similarity", "approx"), bench_fn=_ann_ivfpq_plan)
def q_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ approximate top-k — the composed production index (coarse
    cells × compressed codes × exact refine) — with the hash-checkable
    recall contract: one row asserting overall recall@k vs the exact
    baseline is ≥ the documented floor, constant TRUE in the DuckDB
    oracle. The ANN family is now the full FAISS ladder: LSH, IVF, PQ,
    IVFPQ."""
    return _recall_contract(
        spark, sf_dir, _ann_ivfpq_plan(spark, sf_dir),
        _IVFPQ_RECALL_FLOOR)


_KM_K = 8            # clusters
_KM_ITERS = 3        # fixed Lloyd iterations (fixpoint variant: loop + stop)
_KM_SCALE = _COS_SCALE  # ONE quantization rule (r8 review)
_KM_DIM = 64
_KM_HASH = 2654435761  # Knuth multiplicative hash, computable in ANSI SQL
_KM_K16 = (_KM_HASH * 65536) % 4294967296


def _km_draw(div: str) -> str:
    """(vec_id · KNUTH) mod 2^32 via the 16-bit split (advanced.py's
    _knuth_draw pattern): identical to the direct product for vec_id
    < 2^32 — every fixture key — but overflow-free for snowflake-scale
    ids, where the raw multiply is a hard ANSI ArithmeticException."""
    return (f"((vec_id % 65536) * {_KM_HASH} "
            f"+ ((vec_id {div} 65536) % 65536) * {_KM_K16}) % 4294967296")


def _kmeans_oracle() -> str:
    """The same {iters} Lloyd iterations unrolled as chained CTEs
    (q_graph_pagerank's oracle technique), in the same exact integer
    arithmetic, so the result hash-matches bit-for-bit."""
    dist = ("list_sum(list_transform(list_zip(e.v, c.cv), "
            "p -> (p[1] - p[2]) * (p[1] - p[2])))")
    ctes = [f"""
        {EMB_VALID_SQL},
        e AS (SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                         x -> CAST(floor(x * {_KM_SCALE}.0) AS BIGINT)) AS v
              FROM emb_valid),
        c0 AS (SELECT CAST(ROW_NUMBER() OVER (
                          ORDER BY {_km_draw("//")}, vec_id)
                          - 1 AS INT) AS cid, v AS cv
               FROM (SELECT vec_id, v FROM e
                     ORDER BY {_km_draw("//")}, vec_id
                     LIMIT {_KM_K}))"""]
    for i in range(1, _KM_ITERS + 1):
        ctes.append(f"""
        a{i} AS (SELECT vec_id, v, min({{'d': d, 'c': cid}}).c AS cid FROM (
                    SELECT e.vec_id, e.v, c.cid, {dist} AS d
                    FROM e CROSS JOIN c{i - 1} c) GROUP BY vec_id, v),
        m{i} AS (SELECT cid, array_agg(s ORDER BY i) AS cv FROM (
                    SELECT cid, i, SUM(v[i]) // COUNT(*) AS s
                    FROM a{i}, unnest(generate_series(1, {_KM_DIM})) AS t(i)
                    GROUP BY cid, i) GROUP BY cid),
        c{i} AS (SELECT p.cid, COALESCE(m.cv, p.cv) AS cv
                 FROM c{i - 1} p LEFT JOIN m{i} m ON p.cid = m.cid)""")
    n = _KM_ITERS
    return (
        "WITH" + ",".join(ctes)
        + f"""
        SELECT c.cid, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_members,
               CAST(COALESCE(s.mem_sum, 0) AS BIGINT) AS mem_sum,
               CAST(list_sum(c.cv) AS BIGINT) AS cent_sum
        FROM c{n} c LEFT JOIN (
            SELECT cid, COUNT(*) AS n, SUM(list_sum(v)) AS mem_sum
            FROM a{n} GROUP BY cid) s ON c.cid = s.cid"""
    )


@query("q_embed_kmeans", oracle=_kmeans_oracle(),
       tags=("similarity", "embedding", "clustering", "iterative"))
def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd) over the embedding corpus — the
    codebook trainer every IVF/PQ vector index runs before assignment
    (q_sim_ann_ivf's hash-sampled quantizer is the untrained stand-in;
    this is the trained one).

    DETERMINISM (the q_graph_pagerank rule): embeddings are quantized to
    scaled integers (floor(x·1e6), one identical double op per value), so
    distances, argmin ties (lowest cid wins on equal distance — Spark's
    array_position-of-min and the oracle's min-struct agree), and the
    truncating integer-mean centroid update are all bit-exact on both
    engines. Empty clusters keep their previous centroid (COALESCE on
    both sides).

    Scale shape (the part that matters at 100 TB): centroids live on the
    driver as O(K·dim) literals — embedding them into the assignment
    expression makes each iteration a SINGLE cached-scan + map-side
    partial aggregation (posexplode → (cid, dim) partial sums collapse to
    K·dim rows per partition before the one shuffle); the per-iteration
    collect is K·dim values, corpus-size-independent. No lineage growth:
    literals cut each iteration's plan at the cache. Assignment itself is
    a per-row JVM fold over a K×dim literal array — no Python, no join,
    no shuffle.
    """
    e = (
        emb_table(spark, sf_dir)
        .select(
            "vec_id",
            F.expr(
                f"transform(cast(embedding as array<double>), "
                f"x -> cast(floor(x * {_KM_SCALE}.0D) as bigint))"
            ).alias("v"),
        )
        .persist()
    )
    init = (
        e.orderBy(F.expr(_km_draw("DIV")), "vec_id")
        .limit(_KM_K)
        .collect()
    )
    if len(init) < _KM_K:
        # fail loudly on a sub-K corpus: cents_lit() would otherwise
        # KeyError on the driver mid-plan-build (r8 review; the api
        # twin kmeans_fit raises the same way)
        raise ValueError(
            f"q_embed_kmeans: k={_KM_K} exceeds the {len(init)} "
            "input vectors")
    cents: dict[int, list[int]] = {i: list(r.v) for i, r in enumerate(init)}

    def cents_lit():
        # ONE SQL-text parse for the whole K×dim matrix (r13 opt): the
        # per-element F.lit loop issued K·dim py4j round trips per
        # iteration (and F.lit(nested_list) pays the same py4j list
        # conversion) — measured 0.40 s per plan build vs 0.06 s for the
        # parsed text form; the optimizer constant-folds every form to
        # the same literal, so executor work is identical.
        inner = ",".join(
            "array(" + ",".join(f"{int(x)}L" for x in cents[cid]) + ")"
            for cid in range(_KM_K))
        return F.expr(f"array({inner})")

    def assign(df: DataFrame) -> DataFrame:
        dists = F.expr(
            "transform(cents, c -> aggregate(zip_with(c, v, "
            "(x, y) -> (x - y) * (x - y)), 0L, (s, t) -> s + t))"
        )
        return (
            df.withColumn("cents", cents_lit())
            .withColumn("dists", dists)
            .withColumn(
                "cid",
                (F.array_position(F.col("dists"), F.array_min("dists")) - 1)
                .cast("int"),
            )
            .drop("cents", "dists")
        )

    last = None
    for _ in range(_KM_ITERS):
        last = assign(e)
        means = (
            last.select("cid", F.posexplode("v").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(F.expr("sum(x) DIV count(1)").alias("s"))
            .collect()
        )
        upd: dict[int, dict[int, int]] = {}
        for r in means:
            upd.setdefault(r.cid, {})[r.i] = r.s
        for cid, comp in upd.items():
            cents[cid] = [comp[i] for i in range(_KM_DIM)]
    stats = last.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("aggregate(v, 0L, (s, t) -> s + t)")).alias("mem_sum"),
    # materialize the K-row stats WHILE e is still cached — unpersisting
    # first made the caller's action re-scan and re-quantize the corpus
    # without the cache this function just built
    ).localCheckpoint(eager=True)
    cent_rows = spark.createDataFrame(
        [(cid, sum(cents[cid])) for cid in range(_KM_K)],
        "cid int, cent_sum long",
    )
    e.unpersist()
    return (
        cent_rows.join(stats, "cid", "left")
        .select(
            "cid",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_members"),
            F.coalesce("mem_sum", F.lit(0)).cast("long").alias("mem_sum"),
            "cent_sum",
        )
    )


@query(
    "q_embed_quantize",
    oracle=f"""
        WITH {EMB_VALID_SQL},
        e AS (SELECT vec_id, label,
                          CAST(embedding AS DOUBLE[]) AS emb
                   FROM emb_valid),
        s AS (SELECT vec_id, label,
                     list_aggregate(emb, 'min') AS mn,
                     list_aggregate(emb, 'max') AS mx,
                     emb
              FROM e)
        SELECT vec_id, label, mn, mx,
               CAST(CASE WHEN mx = mn THEN 0 ELSE
                    list_sum(list_transform(emb,
                        x -> least(floor((x - mn) / ((mx - mn) / 255.0)),
                                   255.0)))
                    END AS BIGINT) AS qsum
        FROM s
    """,
    tags=("similarity", "embedding", "quantize"),
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding column — the 4× storage
    compression every 100 TB vector store applies before ANN indexing
    (per-vector min/max affine scale to [0, 255]). Emits the scale params
    and the quantized-vector checksum; the bytes themselves would land in
    a binary column via the same expressions.

    Scale shape: stateless per-row JVM higher-order functions (transform/
    aggregate) — no shuffle, no Python, whole-stage codegen. Determinism:
    both engines run the identical double arithmetic on the identical
    float32 inputs, and floor (not round) avoids banker's-rounding
    divergence; the mx = mn degenerate case is guarded to 0 on both
    sides.
    """
    e = _emb(spark, sf_dir)
    s = e.select(
        "vec_id", "label", "emb",
        F.array_min("emb").alias("mn"),
        F.array_max("emb").alias("mx"),
    )
    qsum = F.expr(
        "aggregate(transform(emb, x -> least(floor((x - mn) / ((mx - mn) / 255.0D)), 255.0D)), "
        "0D, (acc, v) -> acc + v)"
    )
    return s.select(
        "vec_id", "label", "mn", "mx",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(qsum).cast("long").alias("qsum"),
    )


def label_centroids(e: DataFrame, label_out: str = "label"):
    """Per-label MEAN centroid of the quantized vector column ``v`` in
    truncating integer division (both engines truncate toward zero):
    |c| ≤ SCALE independent of the member count, so downstream folds
    stay int64-exact at ANY corpus size — raw component sums wrap
    around ~4·10⁴ members, and the decimal fallback measured ~4× slower
    (interpreted decimal lambdas). ONE definition shared by
    q_embed_cohesion and q_embed_silhouette (r8 review: the block was
    copied verbatim and must stay bit-identical for the "same rule"
    determinism claims). Returns (label_out, c: array<bigint>)."""
    return (
        e.select("label", F.posexplode("v").alias("i", "x"))
        .groupBy(F.col("label").alias(label_out), "i")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("cnt"))
        .select(label_out, "i", F.expr("s DIV cnt").alias("cm"))
        .groupBy(label_out)
        .agg(F.expr("transform(sort_array(collect_list(struct(i, cm))), "
                    "p -> p.cm)").alias("c"))
    )


@query(
    "q_embed_cohesion",
    oracle=f"""
        WITH {EMB_VALID_SQL},
        e AS (
            SELECT vec_id, label,
                   list_transform(CAST(embedding AS DOUBLE[]),
                       x -> CAST(floor(x * {_KM_SCALE}.0) AS BIGINT)) AS v
            FROM emb_valid
        ),
        comp AS (
            SELECT label, i,
                   CAST(CAST(SUM(v[i]) AS BIGINT) // COUNT(*) AS BIGINT)
                       AS cm
            FROM e, unnest(generate_series(1, {_KM_DIM})) AS t(i)
            GROUP BY label, i
        ),
        cent AS (
            SELECT label, array_agg(cm ORDER BY i) AS c FROM comp
            GROUP BY label
        ),
        scored AS (
            SELECT e.vec_id, e.label,
                   list_sum(list_transform(list_zip(e.v, cent.c),
                       p -> p[1] * p[2])) AS dot,
                   list_sum(list_transform(e.v, x -> x * x)) AS nv,
                   list_sum(list_transform(cent.c, x -> x * x)) AS nc
            FROM e JOIN cent USING (label)
        ),
        -- zero-norm guard (r9 review): 0/0 is NaN and the engines then
        -- DIVERGE (Spark's floor(NaN) casts NULL, DuckDB raises) —
        -- a degenerate member or all-zero centroid scores cosine 0.0,
        -- the family convention. cosd carries Spark's association
        -- EXACTLY (see the floor comment below).
        cosed AS (
            SELECT label,
                   CASE WHEN nv = 0 OR nc = 0 THEN 0.0
                        ELSE CAST(dot AS DOUBLE)
                             / sqrt(CAST(nv AS DOUBLE) * CAST(nc AS DOUBLE))
                   END AS cosd
            FROM scored
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               -- parens around dot/sqrt(..) mirror Spark's association
               -- EXACTLY: left-assoc 1e6*dot/sqrt(..) computes
               -- (1e6*dot)/sqrt where 1e6*dot exceeds 2^53 and floors
               -- differently (r6 review: cosine exactly 1 floored to
               -- 999999 one way, 1000000 the other)
               round(SUM(CAST(floor(1000000.0 * cosd)
                         AS BIGINT)) / (1000000.0 * COUNT(*)), 6)
                   AS avg_cohesion,
               round(MIN(cosd), 6) AS min_cohesion
        FROM cosed GROUP BY label
    """,
    tags=("similarity", "embedding", "clustering", "quality"),
)
def q_embed_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-cohesion audit: every vector's cosine to its label's
    centroid, aggregated per label (avg + worst member) — the embedding-
    quality report run after clustering/labeling (low cohesion = mislabeled
    or polysemous groups; the per-label companion to q_embed_kmeans).

    DETERMINISM (q_embed_kmeans' rule): vectors quantize to scaled
    BIGINTs and the centroid is the truncated-integer MEAN (both
    engines truncate toward zero), so |c| ≤ SCALE independent of the
    member count and every dot/norm fold is int64-exact at any corpus
    size (raw component SUMS would wrap around ~4·10⁴ members, and the
    decimal fallback measured ~4× slower). Cosine is then two double
    conversions + one division + one sqrt — identical rounding both
    engines, emitted 6dp.

    Scale shape: centroids via posexplode + partial-agged (label, dim)
    sums collapsing to |labels|·dim rows, rebuilt and broadcast back;
    scoring is one stateless pass. Cosine is scale-invariant, so the
    mean-vs-sum centroid choice only moves quantization noise (≤ 1/SCALE
    per component); the mean keeps the arithmetic bounded.
    """
    e = _emb(spark, sf_dir).select(
        "vec_id", "label",
        F.expr(f"transform(emb, x -> cast(floor(x * {_KM_SCALE}.0D) as bigint))")
        .alias("v"),
    )
    # MEAN centroid via the shared label_centroids helper (one
    # definition of the truncated-integer-mean rule, r8 review)
    cent = label_centroids(e)
    scored = (
        e.join(F.broadcast(cent), "label")
        .select(
            "label",
            F.expr("aggregate(zip_with(v, c, (x, y) -> x * y), 0L, "
                   "(a, t) -> a + t)").alias("dot"),
            F.expr("aggregate(v, 0L, (a, x) -> a + x * x)").alias("nv"),
            F.expr("aggregate(c, 0L, (a, x) -> a + x * x)").alias("nc"),
        )
    )
    # zero-norm guard (r9 review): matches the oracle's CASE — 0/0 is
    # NaN and Spark's floor(NaN).cast(long) silently NULLs while DuckDB
    # raises; a degenerate member/centroid scores 0.0 instead.
    cos = F.when((F.col("nv") == F.lit(0)) | (F.col("nc") == F.lit(0)),
                 F.lit(0.0)) \
        .otherwise(F.col("dot").cast("double")
                   / F.sqrt(F.col("nv").cast("double")
                            * F.col("nc").cast("double")))
    # the mean sums floor-scaled int64 cosines, not raw doubles: a
    # double sum reassociates in partition order and diverges between
    # engines once groups grow (q_ts_interpolate's sf0.1 lesson); the
    # scaled-int sum is exact and the mean is ONE double division.
    # min over identical doubles is order-independent: safe as-is.
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(
            F.sum(F.floor(F.lit(1_000_000.0) * cos).cast("long"))
            / (F.lit(1_000_000.0) * F.count(F.lit(1))), 6)
        .alias("avg_cohesion"),
        F.round(F.min(cos), 6).alias("min_cohesion"),
    )
