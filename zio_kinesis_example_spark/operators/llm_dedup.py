"""Deduplication operators [north-star]: exact hash dedup, n-gram Jaccard,
MinHash-LSH, SimHash, and embedding-cosine near-dup.

Scale design (the 100 TB story):
- **Exact dedup** is a hash-partitioned groupBy on a content digest — one
  shuffle keyed by sha2(text); identical texts co-locate, no pairwise work.
- **Exact pairwise Jaccard** (q_dedup_ngram_jaccard) is the *ground-truth*
  path. Candidate pairs come from a DOCUMENT-FREQUENCY-CAPPED shingle
  co-occurrence join (shingles appearing in more than ``_DF_CAP`` documents
  are "stop shingles" and generate no candidates — the standard guard in
  suffix-array/shingle dedup pipelines), so the join cost is bounded by
  Σ min(|posting|, cap)² ≤ cap · Σ|posting| — LINEAR in corpus size, never
  the Σ|posting|² blow-up a web-scale stop-shingle ("in the of") would
  cause. Verification then computes the TRUE Jaccard over the full shingle
  arrays, so emitted values are exact; the only semantic difference from
  the uncapped join is that pairs sharing solely stop shingles (Jaccard
  necessarily ≈ 0 for any document with rare content) are not emitted.
  On the test fixtures max df = 25 < cap, so the cap is a provable no-op.
- **MinHash-LSH** (q_dedup_minhash*) is the scale path: per-document
  signature computation is embarrassingly parallel (no shuffle, higher-order
  functions only), then ONE shuffle on (band_id, band_hash) groups likely
  duplicates; pairwise verification happens only inside buckets. This is the
  standard shingle→minhash→band→bucket-join design.
- **SimHash** (q_dedup_simhash*): 64-bit signature per doc, candidates via
  16-bit chunk banding (pigeonhole: hamming ≤ 3 ⇒ some 16-bit chunk equal),
  verified with bit_count(xor) ≤ 3.
- **Embedding cosine** (q_dedup_embedding): blocked by ``label`` so the
  pairwise stage is per-block; at real scale the block key would be an LSH
  or IVF bucket (see llm_similarity).

All signature math uses Spark built-ins — JVM-side, no Python in the hot
path. The MinHash/SimHash hash family is PORTABLE by construction: the
base hash is the first 60 bits of md5 (identical in any engine), and the
permutations are affine maps mod the Mersenne prime 2^31−1, so every
signature, band hash, and candidate pair is bit-identical between Spark
and DuckDB — the whole family is hash-verified against exact SQL oracles
instead of the usual rows-only check for engine-private hashes.

Reference parity note: the reference has no dedup operators (SURVEY.md §2.1
"does NOT implement: distinct/dedup"); this module is the north-star
surface mandated by BASELINE.json.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import EMB_VALID_SQL, load
from ..registry import query
from . import materialize
from .materialize import persist, shared, spread

# 3-term shingles; documents.text is space-separated terms (FIXTURES.md §B).
_SHINGLES = """
    CASE WHEN size(terms) >= 3
         THEN array_distinct(transform(sequence(1, size(terms) - 2),
                                       i -> concat_ws(' ', slice(terms, i, 3))))
         ELSE array(concat_ws(' ', terms))
    END
"""

# 16 hashes as 8 bands × 2 rows: the LSH S-curve threshold is
# (1/b)^(1/r) = (1/8)^(1/2) ≈ 0.35, tuned to catch Jaccard ≥ 0.5 pairs
# with high probability; false candidates are removed by exact-Jaccard
# verification, so a permissive curve costs verification work, not
# correctness.
_N_HASHES = 16
_BANDS = 8

# Stop-shingle guard for the exact-Jaccard candidate join: shingles with
# document frequency above this cap generate no candidate pairs. Keeps the
# co-occurrence join linear in corpus size (Σ min(df, cap)² ≤ cap·Σdf).
# 64 ≫ the max df on every test fixture (25 at sf0.1), so locally the cap
# is exactly a no-op; at web scale it is the difference between a plan
# that finishes and one that materializes |corpus|² rows on one hot key.
_DF_CAP = 64

# Portable hash family (identical in Spark and DuckDB, all int64-safe):
#   H0(s)  = first 15 hex chars of md5(s) as a 60-bit integer
#   h      = H0 mod P,  P = 2^31 − 1 (Mersenne prime)
#   m_i    = (a_i · h + b_i) mod P        (affine permutation per slot)
# Every term stays < 2^62, so plain BIGINT arithmetic is exact in both
# engines — no HUGEINT/DECIMAL, no wrap-around, ANSI-safe. The 31-bit
# signature space is the standard 32-bit-minhash regime; collisions are
# engine-independent so Spark/DuckDB parity holds bit-for-bit.
_P31 = (1 << 31) - 1
_mh_rng = random.Random(20260813)
_MH_A = [_mh_rng.randrange(1, _P31) for _ in range(_N_HASHES)]
_MH_B = [_mh_rng.randrange(0, _P31) for _ in range(_N_HASHES)]

# Spark-side base hash of a string column (DuckDB mirror below).
_H0_SPARK = "CAST(conv(substring(md5({c}), 1, 15), 16, 10) AS BIGINT)"
# DuckDB-side base hash.
_H0_DUCK = "CAST(('0x' || substr(md5({c}), 1, 15)) AS BIGINT)"

# DuckDB shingle CTEs shared by every dedup oracle (mirror of _SHINGLES).
_DUCK_SHINGLES = """
        t AS (SELECT doc_id, string_split(text, ' ') AS terms
              FROM documents WHERE text IS NOT NULL),
        s AS (SELECT doc_id,
                     list_distinct(CASE WHEN len(terms) >= 3
                       THEN list_transform(generate_series(1, len(terms) - 2),
                                           i -> array_to_string(terms[i:i+2], ' '))
                       ELSE [array_to_string(terms, ' ')] END) AS sh
              FROM t)
"""

# DuckDB minhash signature + band CTEs (16 affine mins, 8 r=2 band keys).
_DUCK_MINHASH = (
    _DUCK_SHINGLES
    + """,
        ex AS (SELECT doc_id, """
    + _H0_DUCK.format(c="g")
    + f""" % {_P31} AS h
              FROM (SELECT doc_id, unnest(sh) AS g FROM s)),
        sig AS (SELECT doc_id,
"""
    + ",\n".join(
        f"               MIN((h * {_MH_A[i]} + {_MH_B[i]}) % {_P31}) AS m{i}"
        for i in range(_N_HASHES)
    )
    + """
               FROM ex GROUP BY doc_id),
        bnd AS (SELECT doc_id,
                       ["""
    + ", ".join(
        f"m{2 * b} * {_P31} + m{2 * b + 1}" for b in range(_BANDS)
    )
    + """] AS bh
                FROM sig),
        buckets AS (SELECT doc_id, band_id, bh[band_id + 1] AS band_hash
                    FROM bnd,
                         (SELECT unnest(generate_series(0, """
    + str(_BANDS - 1)
    + """)) AS band_id) g)
"""
)


# Intermediate frames shared by the dedup family (shingle sets, simhash
# signatures, CC labels) live in the one materialization registry
# (operators/materialize.py), persisted once per (session, sf_dir): the
# driver's correctness pass and bench.py run the family back-to-back
# against the same input, and the shingling/hashing scan is the
# dominant shared prefix.
#: The whole registry under the name perfbench/run.py's leak probe reads.
_SHARED = materialize._REGISTRY


def _with_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        # NULL-text docs carry no shingles (r12 content-stress: unknown
        # content cannot be dup-judged — NULL never equals NULL)
        d = spread(spark, load(spark, sf_dir, "documents")
                   .filter(F.col("text").isNotNull()))
        return (
            d.select("doc_id", F.split("text", " ").alias("terms"))
            .select("doc_id", F.expr(_SHINGLES).alias("shingles"))
        )

    return shared(spark, sf_dir, "shingles", build)


def _exploded_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): one row per distinct 3-shingle, with the shingle
    expression INLINED into the explode projection.

    Exploding a *named* array column produced by an earlier projection
    breaks the Generate out of whole-stage codegen (measured 1.46 s for
    the exploded scan at sf0.1 vs 0.30 s inlined — the round-3
    q_dedup_minhash regression); ``select(explode(<expr>))`` keeps the
    split→shingle→explode chain in one codegen stage. Used by the
    signature path, which never needs the per-doc array form."""
    d = spread(spark, load(spark, sf_dir, "documents")
               .filter(F.col("text").isNotNull()))
    inline = _SHINGLES.replace("terms", "split(text, ' ')")
    return d.select("doc_id", F.explode(F.expr(inline)).alias("sh"))


@query(
    "q_dedup_exact",
    oracle="""
        SELECT sha256(text) AS text_hash,
               CAST(MIN(doc_id) AS BIGINT) AS keep_id,
               CAST(COUNT(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY sha256(text)
    """,
    tags=("dedup",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest: one hash-partitioned groupBy; the
    canonical representative is min(doc_id). O(n) + one shuffle at any SF."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2(F.col("text"), 256).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "q_dedup_exact_events",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("dedup",),
)
def q_dedup_exact_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column distinct (dropDuplicates) — partial-aggregate dedup
    before the shuffle, so the exchange carries unique keys only."""
    e = load(spark, sf_dir, "events")
    return e.select("user_id", "event_type").dropDuplicates()


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS terms
                   FROM documents WHERE text IS NOT NULL),
        s AS (SELECT doc_id,
                     list_distinct(CASE WHEN len(terms) >= 3
                       THEN list_transform(generate_series(1, len(terms) - 2),
                                           i -> array_to_string(terms[i:i+2], ' '))
                       ELSE [array_to_string(terms, ' ')] END) AS sh
              FROM t),
        eh AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n,
                      {_H0_DUCK.format(c="g")} AS h
               FROM (SELECT doc_id, sh, unnest(sh) AS g FROM s)),
        dfh AS (SELECT h, COUNT(*) AS df FROM eh GROUP BY h),
        er AS (SELECT eh.doc_id, eh.n, eh.h FROM eh
               JOIN dfh USING (h) WHERE df <= {_DF_CAP}),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(COUNT(*) AS BIGINT) AS c_rare,
                     MIN(a.n) AS na, MIN(b.n) AS nb
              FROM er a JOIN er b ON a.h = b.h AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
        hd AS (SELECT eh.doc_id, list_sort(list_distinct(list(eh.h))) AS hs
               FROM eh JOIN dfh USING (h) WHERE df > {_DF_CAP}
               GROUP BY eh.doc_id),
        v AS (SELECT doc_a, doc_b,
                     c_rare + COALESCE(CAST(len(list_intersect(x.hs, y.hs))
                                            AS BIGINT), 0) AS n_common,
                     na, nb
              FROM p LEFT JOIN hd x ON doc_a = x.doc_id
                     LEFT JOIN hd y ON doc_b = y.doc_id)
        SELECT doc_a, doc_b, n_common,
               round(n_common * 1.0 / (na + nb - n_common), 6) AS jaccard
        FROM v WHERE 101 * n_common >= na + nb
    """,
    tags=("dedup",),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise 3-gram Jaccard: DF-capped candidate generation,
    full-set verification over PORTABLE 60-bit shingle hashes.

    Candidates: docs co-occurring on a shingle with document frequency
    ≤ ``_DF_CAP`` (the stop-shingle guard — see module docstring; the
    hot-key Σ|posting|² blow-up cannot occur because every posting list
    entering the self-join is ≤ cap rows). Verification: TRUE
    n_common, split by the cap — shared RARE shingles are counted by
    the candidate join's own partial-aggregated groupBy (free: no
    distinct, no per-pair set work), shared HOT shingles by
    intersecting per-doc hot-shingle arrays, which are short by
    construction (the hot vocabulary is the handful of stop-shingles
    with df > cap; EMPTY on every fixture, where the cap is a no-op and
    c_rare alone is the full answer). n_common = c_rare + |hot∩hot|
    because rare/hot partition the vocabulary.

    Shingles are 60-bit PORTABLE hashes (the md5 H0 both engines
    compute bit-identically — module header): one md5 pass, then every
    stage (df count, candidate join, hot arrays) is int64 work instead
    of 15-char string re-hashing. Equal to the string-set answer absent
    a 60-bit collision (P < 2⁻⁴⁸ per corpus; engine-independent either
    way, so parity cannot break). The ≥ 0.01 threshold is the exact
    INTEGER comparison 101·n_common ≥ na + nb — no float ever decides a
    row. (r6 rework: the array-verify formulation measured 6.6 s at
    sf0.1; this one ~2 s, matching the pre-cap formulation's cost while
    keeping its scale guard.)
    """
    s = _with_shingles(spark, sf_dir)
    # persisted INSIDE the query (the round-5 simhash_pairs lesson:
    # ReuseExchange does not dedupe the subtree the df-agg, candidate
    # join, and size/hot builds all share). A tracked persist, released
    # by clear_shared_cache().
    eh = persist(
        s.select("doc_id", F.size("shingles").cast("long").alias("n"),
                 F.explode("shingles").alias("shingle"))
        .select("doc_id", "n",
                F.expr(_H0_SPARK.format(c="shingle")).alias("h"))
    )
    dfh = eh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    er = eh.join(dfh.filter(F.col("df") <= _DF_CAP).select("h"), "h")
    a, b = er.alias("a"), er.alias("b")
    # |A| and |B| are functionally dependent on the pair key, so min()
    # recovers them inside the SAME aggregation — no size re-join
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("c_rare"),
             F.min("a.n").alias("na"), F.min("b.n").alias("nb"))
    )
    hd = (
        eh.join(dfh.filter(F.col("df") > _DF_CAP).select("h"), "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("h")).alias("hs"))
    )
    v = (
        pairs.join(hd.select(F.col("doc_id").alias("doc_a"),
                             F.col("hs").alias("ha")), "doc_a", "left")
        .join(hd.select(F.col("doc_id").alias("doc_b"),
                        F.col("hs").alias("hb")), "doc_b", "left")
        .select(
            "doc_a", "doc_b",
            # coalesce the ARRAYS, not size()'s result: with
            # spark.sql.ansi.enabled=false (legacy sizeOfNull) size(NULL)
            # is -1, not NULL, and a post-size coalesce would silently
            # pass the -1 through as an off-by-one n_common
            (F.col("c_rare")
             + F.size(F.array_intersect(
                 F.coalesce("ha", F.expr("CAST(array() AS array<bigint>)")),
                 F.coalesce("hb", F.expr("CAST(array() AS array<bigint>)")),
             )).cast("long")).alias("n_common"),
            "na", "nb",
        )
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        v.filter(F.col("n_common") * 101 >= F.col("na") + F.col("nb"))
        .select("doc_a", "doc_b", "n_common", F.round(jac, 6).alias("jaccard"))
    )


def minhash_signatures(docs_with_shingles: DataFrame,
                       n_hashes: int = _N_HASHES,
                       bands: int = _BANDS) -> DataFrame:
    """(doc_id, shingles) → (doc_id, band_id, band_hash, bands).

    ``bands`` carries the doc's FULL band-hash array on every exploded
    row so a downstream candidate join can decide in-row whether the
    current band is the pair's first matching band (the dedup-free
    emit-once predicate of q_dedup_minhash_pairs) — 8 longs per row,
    cheaper than the dropDuplicates exchange it replaces.

    The hash family is the PORTABLE one documented at module top: the
    shingle string is md5-hashed ONCE (strings dominate hashing cost),
    then the i-th permutation is an affine map mod 2^31−1 over the
    resulting integer — pure BIGINT arithmetic inside whole-stage
    codegen (an equivalent higher-order-function formulation is
    interpreted per element and measured ~5× slower), and partial
    aggregation means the shuffle carries one 16-column row per
    (doc, partition). Bands combine ``r`` consecutive signature slots
    injectively (m·P + m'); docs sharing any (band_id, band_hash) are
    near-dup candidates. Every value is reproducible in ANSI SQL, which
    is what lets q_dedup_minhash/_pairs carry exact DuckDB oracles.
    """
    exploded = docs_with_shingles.select(
        "doc_id", F.explode("shingles").alias("sh")
    )
    return _signatures_from_exploded(exploded, n_hashes, bands)


def _signatures_from_exploded(exploded: DataFrame,
                              n_hashes: int = _N_HASHES,
                              bands: int = _BANDS) -> DataFrame:
    """(doc_id, sh) → band buckets; see minhash_signatures."""
    r = n_hashes // bands
    if r != 2:
        raise ValueError("portable band combine assumes r == 2 slots/band")
    if n_hashes > len(_MH_A):
        raise ValueError(
            f"n_hashes={n_hashes} exceeds the {len(_MH_A)} fixed affine "
            "permutations (_MH_A/_MH_B); extend the tables to widen")
    hashed = exploded.select(
        "doc_id",
        (F.expr(_H0_SPARK.format(c="sh")) % _P31).alias("h"),
    )
    sig = hashed.groupBy("doc_id").agg(*[
        F.min((F.col("h") * _MH_A[i] + _MH_B[i]) % _P31).alias(f"m{i}")
        for i in range(n_hashes)
    ])
    band_hashes = [
        F.col(f"m{b * r}") * _P31 + F.col(f"m{b * r + 1}")
        for b in range(bands)
    ]
    return sig.select(
        "doc_id",
        F.posexplode(F.array(*band_hashes)).alias("band_id", "band_hash"),
        F.array(*band_hashes).alias("bands"),
    )


def _shared_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default-parameter minhash band buckets, persisted once per
    (session, sf_dir) — the shared index of q_dedup_minhash and
    q_dedup_minhash_pairs."""
    return shared(
        spark, sf_dir, "minhash_buckets",
        lambda: _signatures_from_exploded(_exploded_shingles(spark, sf_dir)),
    )


@query(
    "q_dedup_minhash",
    oracle="WITH" + _DUCK_MINHASH
    + "SELECT doc_id, band_id, band_hash FROM buckets",
    tags=("dedup", "approx"),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH bucket assignments (doc_id, band_id, band_hash): the
    distributed near-dup index. The portable hash family makes every
    band hash reproducible in ANSI SQL, so this is hash-verified against
    a DuckDB oracle computing the identical signatures; end-to-end recall
    on planted duplicates is asserted in tests/test_dedup.py."""
    return _shared_minhash(spark, sf_dir).select(
        "doc_id", "band_id", "band_hash"
    )


@query(
    "q_dedup_minhash_pairs",
    oracle="WITH" + _DUCK_MINHASH
    + """,
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM buckets a JOIN buckets b
                   ON a.band_id = b.band_id
                  AND a.band_hash = b.band_hash
                  AND a.doc_id < b.doc_id),
        ver AS (SELECT c.doc_a, c.doc_b,
                       len(list_intersect(x.sh, y.sh)) * 1.0 /
                       (len(x.sh) + len(y.sh)
                        - len(list_intersect(x.sh, y.sh))) AS jac
                FROM cand c JOIN s x ON c.doc_a = x.doc_id
                            JOIN s y ON c.doc_b = y.doc_id)
        SELECT doc_a, doc_b, round(jac, 6) AS jaccard
        FROM ver WHERE jac >= 0.5
    """,
    tags=("dedup", "approx"),
)
def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs verified by exact Jaccard ≥ 0.5.

    Hash-verified end-to-end: the DuckDB oracle regenerates the SAME
    band buckets from the portable hash family, takes the same
    candidate set, and applies the same exact-Jaccard filter — so the
    comparison checks the LSH index itself, not just the verified tail.
    The shared plan lives in :func:`lsh_verified_pairs` (also the edge
    source of q_dedup_clusters).
    """
    return lsh_verified_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.round("jac", 6).alias("jaccard")
    )


def lsh_verified_pairs(spark: SparkSession, sf_dir: str,
                       threshold: float = 0.5) -> DataFrame:
    """(doc_a, doc_b, jac): MinHash-LSH candidate pairs verified by exact
    shingle Jaccard ≥ ``threshold`` — THE scale path for near-dup pair
    mining, shared by q_dedup_minhash_pairs and the q_dedup_clusters
    edge build.

    Bucket-join on (band_id, band_hash) → candidate pairs → verify with
    true shingle Jaccard. Only bucket-mates are compared: the pairwise
    stage is Σ|bucket|², not n² — and bucket sizes are governed by the
    LSH S-curve, not by hot shingles, so there is no stop-shingle
    blow-up anywhere in the plan (unlike a raw shingle-keyed self-join).

    A pair agreeing on k bands is produced by k buckets; instead of a
    dropDuplicates shuffle over the candidate stream, each pair is kept
    only at its FIRST matching band — a pure per-row predicate on the
    two full band arrays carried through the join (same emit-once trick
    as simhash's first-zero-chunk, q_dedup_simhash_pairs) — so the
    entire candidate-dedup exchange disappears (asserted in
    tests/test_plans.py).

    ``jac`` is a ratio of exact integers (array_intersect/array_union
    sizes), bit-identical across engines, so thresholds are
    boundary-safe.
    """
    s = _with_shingles(spark, sf_dir)
    buckets = _shared_minhash(spark, sf_dir)
    a = buckets.alias("a")
    b = buckets.alias("b")
    first_match = "CASE " + " ".join(
        f"WHEN a.bands[{i}] = b.bands[{i}] THEN {i}" for i in range(_BANDS)
    ) + " ELSE -1 END"
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.band_id") == F.expr(first_match))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    sh = s.select("doc_id", "shingles")
    jac = F.expr(
        "size(array_intersect(sa, sb)) / size(array_union(sa, sb))"
    )
    return (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"),
                            F.col("shingles").alias("sa")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"),
                        F.col("shingles").alias("sb")), "doc_b")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= threshold)
        .select("doc_a", "doc_b", "jac")
    )


_SIMHASH_BITS = 60  # width of the portable md5-derived base hash

# DuckDB mirror of simhash_signatures: same 60 bit-majority votes over the
# same term hashes → CTE ``sims`` with (doc_id, simhash).
_DUCK_SIMHASH = (
    """
        th AS (SELECT doc_id, """
    + _H0_DUCK.format(c="g")
    + """ AS h
               FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS g
                     FROM documents)),
        bs AS (SELECT doc_id, COUNT(*) AS n,
"""
    + ",\n".join(
        f"                      SUM((h >> {b}) & 1) AS b{b}"
        for b in range(_SIMHASH_BITS)
    )
    + """
               FROM th GROUP BY doc_id),
        sims AS (SELECT doc_id,
"""
    + "\n                 + ".join(
        f"CASE WHEN 2 * b{b} > n THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END"
        for b in range(_SIMHASH_BITS)
    )
    + """ AS simhash
                 FROM bs)
"""
)


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document from distinct-term hashes.

    bit b of the signature = majority vote of bit b across term hashes.
    The term hash is the portable 60-bit md5 base hash (module top), so
    the signature is reproducible in ANSI SQL — q_dedup_simhash/_pairs
    carry exact DuckDB oracles instead of rows-only checks.
    Computed as explode → 60 branch-free SUM((h>>b)&1) tallies → bit
    assembly: one shuffle (partial-aggregated), everything inside
    whole-stage codegen. The natural higher-order-function formulation
    (fold an array accumulator per term) is interpreted and allocates a
    fresh array per step — measured 20× slower at sf0.1; a CASE per bit
    instead of the branch-free tally measured ~2× slower.
    """
    def build() -> DataFrame:
        d = spread(spark, load(spark, sf_dir, "documents"))
        term_hashes = d.select(
            "doc_id",
            F.explode(F.expr("array_distinct(split(text, ' '))")).alias("t"),
        ).select("doc_id", F.expr(_H0_SPARK.format(c="t")).alias("h"))
        bit_sums = term_hashes.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.expr(f"(h >> {b}) & 1")).alias(f"b{b}")
              for b in range(_SIMHASH_BITS)],
        )
        assemble = " + ".join(
            f"CASE WHEN 2 * b{b} > n THEN shiftleft(1L, {b}) ELSE 0L END"
            for b in range(_SIMHASH_BITS)
        )
        return bit_sums.select("doc_id", F.expr(assemble).alias("simhash"))

    return shared(spark, sf_dir, "simhash_signatures", build)


@query(
    "q_dedup_simhash",
    oracle="WITH" + _DUCK_SIMHASH + "SELECT doc_id, simhash FROM sims",
    tags=("dedup", "approx"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (doc_id, simhash), hash-verified against a
    DuckDB oracle computing the identical 60-bit signature; hamming
    near-dup recall on planted duplicates asserted in tests/test_dedup.py."""
    return simhash_signatures(spark, sf_dir)


def _chunk_layout(n_chunks: int, total_bits: int = _SIMHASH_BITS
                  ) -> list[tuple[int, int]]:
    """(shift, mask) per chunk, distributing total_bits as evenly as
    possible with the WIDE chunks first — wider chunks mean fewer bucket
    collisions, so prefer the widest layout pigeonhole allows."""
    base, rem = divmod(total_bits, n_chunks)
    out, shift = [], 0
    for c in range(n_chunks):
        w = base + (1 if c < rem else 0)
        out.append((shift, (1 << w) - 1))
        shift += w
    return out


def simhash_pairs(signatures: DataFrame, max_hamming: int = 3,
                  n_chunks: int | None = None,
                  total_bits: int = _SIMHASH_BITS) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) ≤ max_hamming.

    The default radius 3 is the Manku et al. (WWW'07) production setting
    for simhash web dedup; a looser radius on a clustered corpus mostly
    labels moderately-similar pairs "duplicates" (radius 8 here marks
    2.5M of 12.5M total pairs at sf0.1 — output-bound and semantically
    mushy; radius 3 emits 271k).

    Candidates via chunk banding with n_chunks = max_hamming + 1 (the
    widest chunks pigeonhole allows: ≤ n_chunks−1 differing bits ⇒ at
    least one chunk identical — radius-3 uses 4 chunks of 15 bits), so
    recall is EXACTLY 1: the output equals the full hamming-≤r pair set,
    which is what lets the DuckDB oracle skip the banding and verify
    against a direct bit_count(xor) join. Verification (bit_count(xor))
    runs inside the join stage. One shuffle on (chunk_id, chunk_value);
    wider chunks = quadratically smaller buckets, so fewer chunks is
    strictly cheaper (measured: 10×6-bit chunks 2.8× slower than 9
    uneven 7-bit at the same radius).

    Scheme choice, measured at sf0.1: the Manku et al. block-pair scheme
    (§3 — tables keyed on two concatenated blocks) generates fewer
    candidates on *uniform* signature corpora, but on clustered corpora
    where true near-dup groups dominate every real match is re-found in
    up to C(n_chunks,2) tables vs n_chunks, and the match traffic
    dominates — measured 13s (45-table) vs 7s (single-chunk) at the old
    radius 8. Keep single-chunk banding while matches dominate
    candidates; switch to block-pairs (and a 128-bit signature as two
    longs) for web-scale uniform corpora.
    """
    if n_chunks is None:
        n_chunks = max_hamming + 1
    layout = _chunk_layout(n_chunks, total_bits)
    # Mine pairs over DISTINCT signatures, then expand back to documents:
    # on a clustered corpus many docs share a signature (3897 distinct of
    # 5000 at sf0.1), so the quadratic candidate join runs on the smaller
    # set (mass × (3897/5000)² ≈ 0.61) and exact-duplicate groups never
    # enter it at all — measured ~2× end-to-end.
    # PERSISTED here (the q_curate_pipeline pattern): the self-join below
    # references this subtree on BOTH sides, and Spark plans two separate
    # instances of the distinct+explode chain — caching it is a measured
    # ~25 % end-to-end win cold (r5 profiling; ReuseExchange does not
    # cover it). A tracked persist: clear_shared_cache() releases it, and
    # a session that never clears keeps at most materialize.LOOSE_CAP
    # such frames (the oldest is dropped first).
    sigs = persist(signatures.select("simhash").distinct())
    chunk_arr = "array(" + ", ".join(
        f"shiftright(simhash, {sh}) & {mk}" for sh, mk in layout
    ) + ")"
    chunks = sigs.select(
        "simhash",
        F.posexplode(F.expr(chunk_arr)).alias("chunk_id", "chunk_value"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    # A pair sharing k chunks is found by k tables. Instead of a
    # dropDuplicates shuffle over every (match × multiplicity) row, keep a
    # match only in its FIRST zero chunk of xor(sig_a, sig_b) — a pure
    # per-row predicate (the xor is in-row), so each surviving pair is
    # emitted exactly once and the entire dedup exchange disappears.
    first_zero = "CASE " + " ".join(
        f"WHEN (shiftright(xr, {sh}) & {mk}) = 0 THEN {c}"
        for c, (sh, mk) in enumerate(layout)
    ) + " ELSE -1 END"
    sig_pairs = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_value") == F.col("b.chunk_value"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
            F.col("a.chunk_id").alias("chunk_id"),
            F.col("a.simhash").bitwiseXOR(F.col("b.simhash")).alias("xr"),
        )
        .filter(
            (F.bit_count("xr") <= max_hamming)
            & (F.col("chunk_id") == F.expr(first_zero))
        )
        .select("sa", "sb", F.bit_count("xr").alias("hamming"))
    )
    da = signatures.select(F.col("doc_id").alias("doc_a"),
                           F.col("simhash").alias("sa"))
    db = signatures.select(F.col("doc_id").alias("doc_b"),
                           F.col("simhash").alias("sb"))
    cross = (
        sig_pairs.join(da, "sa").join(db, "sb")
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "hamming",
        )
    )
    same = (
        signatures.alias("x")
        .join(
            signatures.alias("y"),
            (F.col("x.simhash") == F.col("y.simhash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionByName(same)


@query(
    "q_dedup_simhash_pairs",
    oracle="WITH" + _DUCK_SIMHASH
    + """
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
        FROM sims x JOIN sims y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
    """,
    tags=("dedup", "approx"),
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3, the Manku production radius)
    via chunk-banding.

    4-chunk banding exactly covers the radius-3 filter (pigeonhole), so
    the output is the EXACT hamming-≤3 pair set — the DuckDB oracle
    verifies it with a direct all-pairs bit_count(xor) join (quadratic,
    fine at oracle SF; the Spark side stays Σ|bucket|²)."""
    return simhash_pairs(simhash_signatures(spark, sf_dir))


def embedding_pairs(df: DataFrame, *, id_col: str = "vec_id",
                    vec_col: str = "emb", block_col: str = "label",
                    threshold: float = 0.4,
                    max_block: int | None = None) -> DataFrame:
    """All within-block vector pairs with cosine ≥ threshold — EXACT, with
    a bounded per-kernel working set.

    Blocks wider than ``max_block`` are tiled: each vector is hashed to
    one of T = ceil(|block|/max_block) tiles, and one kernel runs per
    unordered TILE PAIR (ti ≤ tj) — within-tile upper triangle when
    ti == tj, cross-tile full rectangle otherwise. Every pair lands in
    exactly one kernel, so the result is identical to the untiled
    computation (no recall loss), while each kernel sees ≤ ~2·max_block
    vectors (hash-balanced in expectation) — the hot-block OOM is gone.
    The duplication factor is T per vector (the inherent cost of exact
    all-pairs tiling; at real scale the block key is an LSH/IVF bucket
    and max_block caps the densest bucket). Tunable via
    ``spark.zke.embdedup.maxblock`` (default 4096).

    DETERMINISM (the r6 hardening; q_sim_cosine_topk's rule applied to
    MEMBERSHIP): components quantize to floor(x·1e6) integers, so dot
    and the squared norms are exact integers (computed via float64
    dgemm — every intermediate ≤ ~1.6e15 < 2⁵³, hence exact in any
    summation order), and the threshold decision is the exact integer
    comparison den²·dot² ≥ num²·na·nb (threshold as a fraction; Python
    bigints, no float ever decides membership). A float pre-filter with
    a wide margin bounds the exact-check loop to near-threshold pairs.
    The emitted cosine is dot/(√na·√nb) — one division of
    exactly-agreed operands — rounded half-up at 6 decimals to match
    Spark/DuckDB round() (numpy's default is half-even).
    """
    from fractions import Fraction

    import numpy as np
    import pandas as pd

    frac = Fraction(str(threshold))
    t_num, t_den = frac.numerator, frac.denominator

    spark = df.sparkSession
    if max_block is None:
        max_block = int(spark.conf.get("spark.zke.embdedup.maxblock", "4096"))

    counts = df.groupBy(block_col).agg(F.count(F.lit(1)).alias("_n_blk"))
    tiled = (
        df.join(F.broadcast(counts), block_col)
        .withColumn("_t", F.ceil(F.col("_n_blk") / max_block).cast("int"))
        .withColumn(
            "_tile", F.pmod(F.xxhash64(id_col), F.col("_t")).cast("int")
        )
        .withColumn("_other", F.explode(F.expr("sequence(0, _t - 1)")))
        .withColumn("_ti", F.least("_tile", "_other"))
        .withColumn("_tj", F.greatest("_tile", "_other"))
        .select(block_col, "_ti", "_tj", "_tile", id_col, vec_col)
    )

    def _exact_keep(d, na_v, nb_v):
        """Exact integer threshold decision per candidate pair — sign-
        correct for NEGATIVE thresholds too. cos ≥ num/den (den > 0) ⇔
        den·dot ≥ num·√(na·nb) ⇔
          num ≥ 0: dot ≥ 0 AND den²·dot² ≥ num²·na·nb
          num < 0: dot ≥ 0 OR  den²·dot² ≤ num²·na·nb
        (squaring flips nothing only when both sides share a sign).
        The float arrays hold exact integers (< 2⁵³); compare in Python
        bigints so nothing ever rounds. Zero-norm (undefined cosine)
        pairs are always dropped."""
        out = np.zeros(len(d), dtype=bool)
        for i in range(len(d)):
            di = int(d[i])
            if na_v[i] == 0 or nb_v[i] == 0:
                continue
            lhs = t_den * t_den * di * di
            rhs = t_num * t_num * int(na_v[i]) * int(nb_v[i])
            out[i] = ((di >= 0 and lhs >= rhs) if t_num >= 0
                      else (di >= 0 or lhs <= rhs))
        return out

    # float pre-filter margin: wide enough that no true member can be
    # excluded by dgemm/division ULPs (~1e-15), narrow enough that the
    # exact bigint loop sees only the boundary band
    _MARGIN = 1e-4

    def _decide(C_cand, d, na_v, nb_v):
        """Membership over pre-filtered candidates: float-accept the
        safely-above band (C ≥ threshold + margin — a ~1e-15 float
        error cannot cross the 1e-4 margin, and C > threshold ≥ its
        sign constraints), run the exact bigint loop ONLY on the
        |C − threshold| ≤ margin boundary band — the Python loop is
        O(near-threshold pairs), not O(output)."""
        valid = (na_v > 0) & (nb_v > 0)
        keep = valid & (C_cand >= threshold + _MARGIN)
        band = valid & ~keep
        if band.any():
            bi = np.nonzero(band)[0]
            keep[bi] = _exact_keep(d[bi], na_v[bi], nb_v[bi])
        return keep

    def kernel(key, pdf):
        _, ti, tj = key
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.stack(pdf[vec_col].to_numpy())[order]    # (n, dim) float64
        Xq = np.floor(X * 1e6)      # exact integers in float64
        tiles = pdf["_tile"].to_numpy()[order]
        nrm = (Xq * Xq).sum(axis=1)                     # exact ≤ ~1.6e15
        inv = 1.0 / np.sqrt(np.maximum(nrm, 1.0))
        if ti == tj:
            D = Xq @ Xq.T                               # exact int dots
            C = D * np.outer(inv, inv)
            ia, ib = np.triu_indices(len(ids), k=1)     # vec_a < vec_b
            cand = C[ia, ib] >= threshold - _MARGIN
            ia, ib = ia[cand], ib[cand]
            d, na_v, nb_v = D[ia, ib], nrm[ia], nrm[ib]
            keep = _decide(C[ia, ib], d, na_v, nb_v)
            va, vb = ids[ia[keep]], ids[ib[keep]]
            d, na_v, nb_v = d[keep], na_v[keep], nb_v[keep]
        else:
            a, b = tiles == ti, tiles == tj
            D = Xq[a] @ Xq[b].T
            C = D * np.outer(inv[a], inv[b])
            ia, ib = np.nonzero(C >= threshold - _MARGIN)
            d, na_v, nb_v = D[ia, ib], nrm[a][ia], nrm[b][ib]
            keep = _decide(C[ia, ib], d, na_v, nb_v)
            va0, vb0 = ids[a][ia[keep]], ids[b][ib[keep]]
            va, vb = np.minimum(va0, vb0), np.maximum(va0, vb0)
            d, na_v, nb_v = d[keep], na_v[keep], nb_v[keep]
        # emitted value: ONE division of exactly-agreed operands (the
        # engines' sqrt/multiply/divide are IEEE-identical), then
        # half-AWAY-FROM-ZERO at 6 decimals (Spark/DuckDB round()
        # semantics; sign-aware so negative-threshold results round
        # identically too)
        c = d / (np.sqrt(na_v) * np.sqrt(nb_v))
        return pd.DataFrame({
            "vec_a": va,
            "vec_b": vb,
            "cosine": np.sign(c) * np.floor(np.abs(c) * 1e6 + 0.5) / 1e6,
        })

    return tiled.groupBy(block_col, "_ti", "_tj").applyInPandas(
        kernel, schema="vec_a long, vec_b long, cosine double"
    )


@query(
    "q_dedup_embedding",
    # membership is the exact integer comparison 25·dot² ≥ 4·na·nb over
    # floor(x·1e6)-quantized components (threshold 0.4 = 2/5): dot ≤
    # ~1.6e15 so dot² needs HUGEINT, and no float ever decides a row.
    # The emitted cosine is one double division of exactly-agreed
    # operands — identical bits to the Spark kernel's.
    oracle=f"""
        WITH {EMB_VALID_SQL},
        e AS (SELECT vec_id, label,
                          list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 1000000.0) AS BIGINT)) AS v
                   FROM emb_valid),
        p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     CAST(list_sum(list_transform(list_zip(a.v, b.v),
                          q -> q[1] * q[2])) AS HUGEINT) AS dot,
                     CAST(list_sum(list_transform(a.v, x -> x * x))
                          AS HUGEINT) AS na,
                     CAST(list_sum(list_transform(b.v, x -> x * x))
                          AS HUGEINT) AS nb
              FROM e a JOIN e b
                ON a.label = b.label AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b,
               round(CAST(dot AS DOUBLE)
                     / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))),
                     6) AS cosine
        FROM p
        WHERE dot >= 0 AND na > 0 AND nb > 0
          AND 25 * dot * dot >= 4 * na * nb
    """,
    tags=("dedup", "similarity"),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label.

    The label block is the stand-in for an ANN bucket: pairwise cosine
    only within blocks. Each block (or block tile, when a hot block
    exceeds the width cap — see embedding_pairs) is ONE vectorized
    kernel (applyInPandas → exact-integer dgemm → exact-integer
    threshold; see embedding_pairs' determinism note) instead of a
    self-join computing an interpreted per-pair array fold — measured
    ~4× faster at sf0.1, and the dense-matmul-per-bucket shape is
    exactly how a GPU/BLAS ANN verifier runs at scale. One shuffle on
    (block, tile-pair).
    """
    from .llm_similarity import emb_table
    e = emb_table(spark, sf_dir).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    return embedding_pairs(e)


# ONE definition of what a "cluster" is: the shared recursive-CTE
# fragment behind the q_dedup_clusters / q_dedup_cluster_sizes /
# q_dedup_canonical oracles — edits to the clustering rule cannot
# silently diverge between the paired oracles.
#
# Edges are the LSH-verified near-dup pairs (MinHash band candidates,
# exact-Jaccard ≥ 0.5 verification on the full shingle sets) — the SAME
# definition lsh_verified_pairs computes in Spark, regenerated here from
# the portable hash family. tests/test_dedup.py asserts this edge set
# equals the unguarded exact-Jaccard ≥ 0.5 edge set on every fixture
# (LSH recall is 100 % at the fixtures' ≥ 0.8 pair similarities), so the
# cluster semantics are unchanged from the exact ground truth while the
# plan carries no hot-shingle Σ|posting|² self-join.
_DUCK_CLUSTERS_CTE = (
    """
        WITH RECURSIVE
    """
    + _DUCK_MINHASH
    + """,
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM buckets a JOIN buckets b
                   ON a.band_id = b.band_id
                  AND a.band_hash = b.band_hash
                  AND a.doc_id < b.doc_id),
        e0 AS (SELECT doc_a, doc_b
               FROM cand JOIN s x ON doc_a = x.doc_id
                         JOIN s y ON doc_b = y.doc_id
               WHERE len(list_intersect(x.sh, y.sh)) * 1.0 /
                     (len(x.sh) + len(y.sh)
                      - len(list_intersect(x.sh, y.sh))) >= 0.5),
        e AS (SELECT doc_a AS a, doc_b AS b FROM e0
              UNION ALL SELECT doc_b, doc_a FROM e0),
        r AS (
            SELECT doc_id AS src, doc_id AS dst
            FROM documents WHERE text IS NOT NULL
            UNION
            SELECT r.src, e.b FROM r JOIN e ON r.dst = e.a
        )"""
)


#: ONE definition of the per-doc min-label projection used on top of
#: the cluster CTE by every labels-consuming oracle (cluster_sizes,
#: canonical, dedup_rate_by_source): append after _DUCK_CLUSTERS_CTE.
_DUCK_LABELS_CTE = """,
        labels AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                   FROM r GROUP BY src)"""


def _cc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b): the near-dup graph's undirected edge list, mined
    via the LSH-verified scale path (``lsh_verified_pairs`` — MinHash
    band candidates + exact-Jaccard ≥ 0.5 verification). Module-level so
    tests/test_plans.py can assert the plan joins on (band_id, band_hash),
    never on a raw shingle key (no hot-shingle Σ|posting|² term anywhere
    in the cluster family)."""
    return lsh_verified_pairs(spark, sf_dir, threshold=0.5) \
        .select("doc_a", "doc_b")


@query(
    "q_dedup_clusters",
    oracle=_DUCK_CLUSTERS_CTE + """
        SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS cluster_id
        FROM r GROUP BY src
    """,
    tags=("dedup", "graph", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH-verified (exact Jaccard ≥ 0.5)
    near-dup graph: every document labeled with the minimum doc_id
    reachable through near-duplicate edges — the 'dedup cluster' a
    pipeline keeps one representative of. Edges come from
    :func:`_cc_edges` (the MinHash-LSH scale path; equivalence with the
    unguarded exact ≥ 0.5 edge set is asserted on every fixture in
    tests/test_dedup.py).

    The one genuinely ITERATIVE algorithm in the engine: hash-min label
    propagation (each round, every vertex takes the min label in its
    closed neighborhood) run as a driver loop of joins until fixpoint —
    O(cluster diameter) rounds, each one shuffle; the standard BSP
    formulation that scales to billions of edges (large-star/small-star
    is the production refinement). The oracle computes the same
    components independently via DuckDB's recursive CTE (transitive
    closure + MIN) — exactly the 'non-SQL-expressible op with an exact
    oracle anyway' case.
    """
    # The label frame is the shared input of the whole cluster family
    # (q_dedup_clusters, q_dedup_cluster_sizes, q_dedup_canonical run
    # back-to-back in the driver pass and bench): label ONCE per
    # (session, sf_dir) — the checkpointed vertex-sized frame survives
    # clearCache, exactly the "materialize the labels once" step a
    # production dedup pipeline performs.
    def build() -> DataFrame:
        pairs = _cc_edges(spark, sf_dir)
        # The iteration frames are vertex/edge-sized (tiny next to the input):
        # co-partition BOTH on the join key so every round's join is
        # co-located, and size the partition count to the FRAME, not the
        # cluster default — a handful of tasks per micro-job locally
        # (measured 12.7s → ~4s at sf0.1), defaultParallelism/8 on a real
        # cluster (iteration frames are far smaller than the scanned input;
        # full width would schedule mostly-empty tasks). Overridable via
        # spark.zke.cc.partitions for billion-edge graphs.
        n_parts = int(
            spark.conf.get(
                "spark.zke.cc.partitions",
                str(max(2, spark.sparkContext.defaultParallelism // 8)),
            )
        )
        edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")) \
            .unionByName(pairs.select(F.col("doc_b").alias("a"),
                                      F.col("doc_a").alias("b"))) \
            .repartition(n_parts, "b").cache()
        labels = (
            load(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id", F.col("doc_id").alias("cluster_id"))
            .repartition(n_parts, "doc_id").cache()
        )
        persisted = labels  # the round's materialized frame, for unpersist
        rounds = 0
        while True:
            rounds += 1
            neighbor_min = (
                edges.join(labels, edges.b == labels.doc_id)
                .groupBy(F.col("a").alias("doc_id"))
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            # carry the changed flag through the SAME left join that computes
            # the new label: the fixpoint check is a filter-count on the
            # cached frame, not a second old-vs-new join per round
            flagged = labels.join(neighbor_min, "doc_id", "left").select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("nbr_min", F.col("cluster_id")),
                ).alias("cluster_id"),
                (F.coalesce("nbr_min", F.col("cluster_id"))
                 < F.col("cluster_id")).alias("changed"),
            )
            # cache() bounds recompute but the logical plan still grows per
            # round; localCheckpoint() every 3 rounds truncates lineage so
            # plan analysis stays O(1) over long diameters (eager, persists
            # on executors — no DFS checkpoint dir needed)
            if rounds % 3 == 0:
                # LAZY: the fixpoint count on the next line materializes
                # the checkpoint in its own job (the r13 largestar rule —
                # one job per round, truncation unchanged)
                flagged = flagged.localCheckpoint(eager=False)
            else:
                flagged = flagged.cache()
            changed = flagged.filter("changed").count()
            persisted.unpersist()
            persisted = flagged
            labels = flagged.drop("changed")
            if changed == 0:
                break
        # ONE eager checkpoint makes the returned frame independent of the
        # loop caches AND O(1) to analyze: without it the final plan chains
        # up to 2 un-checkpointed rounds back through the whole edge build
        # (~300 Exchange nodes at sf0.01) and every downstream action pays
        # Catalyst analysis of that monster even though the cache serves the
        # data. Recompute is a cache read, so the extra job is tiny.
        labels = labels.localCheckpoint(eager=True)
        persisted.unpersist()
        edges.unpersist()
        return labels

    # persist=False: build() returns an eagerly checkpointed frame —
    # already materialized and recompute-free; persisting again would
    # store the vertex table twice on the executors
    return shared(spark, sf_dir, "cc_labels", build, persist=False)


@query(
    "q_dedup_cluster_sizes",
    oracle=_DUCK_CLUSTERS_CTE + _DUCK_LABELS_CTE + """,
        sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
                  FROM labels GROUP BY cluster_id)
        SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
        FROM sizes GROUP BY cluster_size
    """,
    tags=("dedup", "graph", "reporting"),
    # q_dedup_clusters already times the CC loop; don't pay it twice in
    # bench for what is one extra two-level aggregate.
    bench=False,
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram — the dedup AUDIT view (how much
    of the corpus sits in 2-doc pairs vs giant boilerplate clusters, and
    the keep-one-per-cluster savings estimate) derived from
    q_dedup_clusters' labels by two chained partial-agged aggregations.

    Scale shape: the histogram is ≤ |distinct sizes| rows; both
    aggregations ride the label table's cluster_id partitioning. The
    oracle re-derives the labels independently via the recursive CTE.
    """
    labels = q_dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("long")
        .alias("n_docs"),
    )

@query(
    "q_dedup_clusters_largestar",
    oracle=_DUCK_CLUSTERS_CTE + """
        SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS cluster_id
        FROM r GROUP BY src
    """,
    tags=("dedup", "graph", "iterative"),
)
def q_dedup_clusters_largestar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same connected components as q_dedup_clusters, computed by the
    PRODUCTION-scale algorithm: alternating large-star/small-star
    contraction (api.connected_components, Kiveris et al.) instead of
    hash-min label propagation. Identical fixpoint — identical oracle —
    but O(log² n) rounds instead of O(component diameter): on long-chain
    graphs (boilerplate-template corpora) the hash-min loop's round count
    is the scale ceiling, and this path removes it (measured: a 40-node
    path converges in 7 rounds vs ~39; equivalence pinned in
    tests/test_dedup.py). Registered separately so the driver certifies
    BOTH CC engines against the recursive-CTE ground truth; deliberately
    does NOT reuse the hash-min family's shared label cache."""
    # lazy import: api.py re-exports this module's surface at top level
    from ..api import connected_components

    return connected_components(
        _cc_edges(spark, sf_dir), "doc_a", "doc_b",
        vertices=load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull()), vertex_col="doc_id")
