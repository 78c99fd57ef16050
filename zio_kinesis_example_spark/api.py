"""Reusable operator library: the engine's algorithms as composable
functions over ARBITRARY DataFrames (the `q_*` registry entries bind
these to the driver testdata; real users bind them to their own tables).

Everything here follows the same contracts as the registry queries:
deterministic outputs (explicit tie-breaks), single-shuffle formulations
where the algebra allows, no driver-side collection, declared output
columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators.llm_dedup import (  # noqa: F401  (re-exported surface)
    embedding_pairs,
    minhash_signatures,
    simhash_pairs,
)
from .operators.llm_similarity import cosine, lsh_buckets  # noqa: F401
from .operators.materialize import clear as clear_shared_cache  # noqa: F401


def dedup_exact(df: DataFrame, text_col: str,
                id_col: str) -> DataFrame:
    """Group identical ``text_col`` payloads by content digest; keep the
    minimum id as canonical. One hash-partitioned shuffle at any scale.

    NULL payloads are EXCLUDED (r8 review): sha2(NULL) is NULL and
    groupBy folds every NULL-text row into one group — unrelated rows
    would be declared copies of each other. A NULL payload has no
    content to deduplicate on; callers wanting them dropped or kept
    should handle them explicitly."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_latest(df: DataFrame, key_cols: list[str],
                 order_cols: list[Column]) -> DataFrame:
    """Keep exactly one row per key: the first under ``order_cols``
    (pass fully tie-broken ordering — determinism under retries is the
    point; dropDuplicates keeps an arbitrary row)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    # collision-proof temp name (r9 review — the pack_sequences rule:
    # a fixed '__rn' would overwrite, then drop, a caller's column)
    tmp = "__zke_dedup_rn"
    taken = {c.casefold() for c in df.columns}
    while tmp.casefold() in taken:
        tmp += "_"
    return (
        df.withColumn(tmp, F.row_number().over(w))
        .filter(F.col(tmp) == 1)
        .drop(tmp)
    )


def asof_join(left: DataFrame, right: DataFrame, key: str,
              left_ts: str, right_ts: str,
              right_cols: list[str]) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_ts`` strictly less than ``left_ts`` (per key). Union + one
    window scan: one shuffle on ``key``, no range-join explosion.
    Attached columns come back as ``asof_<name>`` (NULL when no match).

    Tie-break contract: two right rows sharing (key, right_ts) are
    resolved by ordering on the STRUCT of ``right_cols`` — field-wise,
    in the order the caller lists them — and the greatest payload wins.
    This makes the result deterministic but (a) dependent on the
    ``right_cols`` ordering the caller passes, and (b) restricted to
    ORDERABLE payload types: a ``right_cols`` entry of MapType (or any
    other unorderable type) raises AnalysisException at plan time. For
    an explicit policy, pre-dedupe the right side per (key, right_ts)
    with ``dedup_latest`` before calling."""
    # NULL right_ts rows are EXCLUDED (r8 review): ascending order puts
    # NULLs first, so such a row would sit inside every left row's
    # preceding frame and match rows that have no genuine earlier right
    # row — but NULL is not "less than" anything (SQL ASOF joins drop
    # NULL keys).
    r = right.filter(F.col(right_ts).isNotNull()).select(
        F.col(key), F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__kind"),
        F.struct(*[F.col(c) for c in right_cols]).alias("__payload"),
    )
    # cast() takes the DataType OBJECT — a simpleString round-trip
    # breaks on names the DDL parser cannot re-read (spaces, commas,
    # colons; r9 review)
    payload_type = r.schema["__payload"].dataType
    l = left.select(
        F.col(key), F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__kind"),
        F.lit(None).cast(payload_type).alias("__payload"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__left"),
    )
    # __payload as the final sort key: two right rows sharing the same
    # right_ts would otherwise reach last() in shuffle-dependent order
    # and the matched payload would flip between runs (struct ordering
    # is field-wise, so the GREATEST payload wins deterministically;
    # left rows' NULL payload cannot tie — they differ in __kind)
    w = (
        Window.partitionBy(key)
        .orderBy("__ts", "__kind", "__payload")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    matched = (
        r.select(F.col(key), "__ts", "__kind", "__payload",
                 F.lit(None).cast(l.schema["__left"].dataType)
                  .alias("__left"))
        .unionByName(l)
        .withColumn("__match", F.last("__payload", ignorenulls=True).over(w))
        .filter(F.col("__kind") == 0)
    )
    out = matched.select(
        "__left.*",
        *[F.col(f"__match.{c}").alias(f"asof_{c}") for c in right_cols],
    )
    return out


def sessionize(df: DataFrame, key_cols: list[str], ts_col: str,
               gap_seconds: int) -> DataFrame:
    """Gaps-and-islands sessionization: adds ``session_id`` (0-based per
    key) where a new session starts after ``gap_seconds`` of inactivity.
    One shuffle + one sort, both reused by any downstream per-session
    aggregation."""
    wo = Window.partitionBy(*key_cols).orderBy(ts_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = us - F.lag(us).over(wo)
    return (
        df.withColumn(
            "__new", F.when(gap > gap_seconds * 1_000_000, 1).otherwise(0))
        .withColumn(
            "session_id",
            F.sum("__new").over(
                wo.rangeBetween(Window.unboundedPreceding, 0)).cast("long"))
        .drop("__new")
    )


def pack_sequences(df: DataFrame, part_cols: list[str], order_col: str,
                   size_col: str, bin_size: int) -> DataFrame:
    """Assign each row to a bin per partition by CONTIGUOUS OFFSET
    BUCKETING: ``seq_bin = floor(cumulative_size_before / bin_size)`` in
    ``order_col`` order. An item whose size straddles a bin boundary
    belongs to the bin its offset starts in, so a bin may exceed
    ``bin_size`` by up to one item — the token-packing convention where
    sequences are SPLIT at the boundary by the consumer. For strict
    fixed-capacity bins (no overflow ever), close the bin when the
    running total would exceed capacity — a sequential scan per
    partition (applyInPandas), not this window cumsum."""
    w = (
        Window.partitionBy(*part_cols).orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(size_col).over(w), F.lit(0)).cast("long")
    # integer DIV, not double /: past ~2^53 cumulative size the double
    # quotient rounds before any floor/cast and a row just below a bin
    # boundary can land one bin high (q_text_pack's documented rule;
    # r8 review aligned this twin with it). The cumsum stages in a
    # COLLISION-PROOF temp name (r9 advice: a fixed '__before' would
    # overwrite — then drop — a caller column of that name).
    tmp = "__zke_pack_before"
    taken = {c.casefold() for c in df.columns}   # Spark resolution is
    while tmp.casefold() in taken:               # case-INsensitive by
        tmp += "_"                               # default (r9 review)
    return (
        df.withColumn(tmp, before)
        .withColumn("seq_bin",
                    F.expr(f"`{tmp}` div {int(bin_size)}").cast("long"))
        .drop(tmp)
    )


def stratified_sample(df: DataFrame, stratum_cols: list[str],
                      id_col: str, n_per_stratum: int) -> DataFrame:
    """Deterministic, seedless, engine-portable stratified sample:
    rank rows inside each stratum by md5(id) and keep the first n. At
    very large strata, replace the rank with a digest threshold to avoid
    the per-stratum sort."""
    w = Window.partitionBy(*stratum_cols).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def merge_upsert(base: DataFrame, delta: DataFrame,
                 key: str) -> DataFrame:
    """MERGE: delta rows win WHOLE-ROW on key collision (the SQL
    ``WHEN MATCHED THEN UPDATE SET *`` contract), inserts pass through,
    unmatched base rows survive. Columns = base's columns.

    Whole-row via a delta-presence marker, not per-column coalesce: a
    delta that intentionally sets a field to NULL must not resurrect
    the stale base value as a column-wise chimera of two versions.
    NULL keys merge null-safely as one group (the UpsertSink rule).

    PRECONDITION (SQL MERGE's cardinality rule): the delta must carry
    at most ONE row per key — including at most one NULL-key row, since
    the null-safe join treats NULL as an ordinary key value. A delta
    with k rows for a key that matches m base rows produces k·m merged
    rows, exactly the ambiguity standard MERGE rejects with an error;
    pre-dedupe with ``dedup_latest`` (what UpsertSink does) when the
    delta may hold multiple versions per key.

    Column-set mismatch raises up front (r9 review: the UpsertSink copy
    of this algorithm selected delta's columns while this one selected
    base's — a schema-evolved batch would raise deep inside one and
    silently DROP the new column in the other; SQL MERGE's schema
    contract is explicit, so the divergence is now an explicit error
    at the one shared implementation)."""
    if set(base.columns) != set(delta.columns):
        raise ValueError(
            f"merge_upsert: base columns {sorted(base.columns)} != "
            f"delta columns {sorted(delta.columns)}")
    # collision-proof marker name (the pack_sequences rule): a caller
    # column literally named '__dp' would be overwritten by the marker
    # and persisted as the constant 1
    marker = "__zke_merge_dp"
    taken = {c.casefold() for c in delta.columns}
    while marker.casefold() in taken:
        marker += "_"
    b = base.alias("b")
    d = delta.withColumn(marker, F.lit(1)).alias("d")
    take_delta = F.col(f"d.{marker}").isNotNull()
    return b.join(d, F.col(f"b.{key}").eqNullSafe(F.col(f"d.{key}")),
                  "full_outer") \
        .select(*[
            F.when(take_delta, F.col(f"d.{c}"))
            .otherwise(F.col(f"b.{c}")).alias(c)
            for c in base.columns
        ])


def salted_join(fact: DataFrame, dim: DataFrame, fact_key: str,
                dim_key: str, salt_col: Column,
                n_buckets: int = 8) -> DataFrame:
    """Skew-resistant equi-join: fact side salted by ``pmod(salt_col, n)``,
    dim side replicated n ways. Semantically identical to the plain
    join; a hot key fans out over n tasks.

    pmod + a NULL fallback, not ``%``: Spark's ``%`` keeps the dividend's
    sign, so a negative salt (F.hash is a common choice and goes
    negative) would land in {-(n-1)..-1} — outside the dim side's
    replicated {0..n-1} — and silently DROP the fact row; a NULL salt
    would drop it the same way."""
    spark = fact.sparkSession
    f = fact.withColumn(
        "__salt",
        F.coalesce(F.pmod(salt_col, F.lit(n_buckets)), F.lit(0))
        .cast("int"))
    d = dim.crossJoin(
        spark.range(n_buckets).select(F.col("id").cast("int").alias("__salt"))
    )
    joined = f.join(
        d, (f[fact_key] == d[dim_key]) & (f["__salt"] == d["__salt"]))
    return joined.drop("__salt")


def time_bucket(df: DataFrame, ts_col: str, unit: str = "hour",
                alias: str = "bucket") -> DataFrame:
    """Append a truncated time bucket column (the hypertable bucketing
    primitive behind q_ts_rollup_hypertable)."""
    return df.withColumn(alias, F.date_trunc(unit, F.col(ts_col)))


def forward_fill(df: DataFrame, key_cols: list[str], order_col: str,
                 value_col: str, alias: str | None = None) -> DataFrame:
    """Last-observation-carried-forward per series: nulls in
    ``value_col`` take the latest non-null earlier value within the key
    partition. One window sort per series; no joins."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        alias or value_col, F.last(value_col, ignorenulls=True).over(w)
    )


def resample_ohlc(df: DataFrame, key_cols: list[str], ts_col: str,
                  value_col: str, tiebreak_col: str,
                  unit: str = "hour") -> DataFrame:
    """Open/high/low/close downsampling of ``value_col`` into per-key
    time buckets, tie-broken on ``tiebreak_col`` (q_ts_resample_ohlc as a
    reusable operator: both windows and the aggregate share one
    exchange)."""
    base = time_bucket(df, ts_col, unit).select(
        *key_cols, "bucket", F.col(value_col).alias("__v"),
        F.col(ts_col).alias("__ts"), F.col(tiebreak_col).alias("__tb"),
    )
    parts = [*key_cols, "bucket"]
    w_asc = Window.partitionBy(*parts).orderBy(
        F.col("__ts").asc(), F.col("__tb").asc())
    w_desc = Window.partitionBy(*parts).orderBy(
        F.col("__ts").desc(), F.col("__tb").desc())
    ranked = base.select(
        *parts, "__v",
        F.row_number().over(w_asc).alias("__ra"),
        F.row_number().over(w_desc).alias("__rd"),
    )
    return ranked.groupBy(*parts).agg(
        F.max(F.when(F.col("__ra") == 1, F.col("__v"))).alias("open"),
        F.max("__v").alias("high"),
        F.min("__v").alias("low"),
        F.max(F.when(F.col("__rd") == 1, F.col("__v"))).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


def zorder_key(df: DataFrame, col_a: str, col_b: str,
               bits: int = 16, alias: str = "zval") -> DataFrame:
    """Append a Morton (z-order) interleave of two integer columns —
    the multi-dimensional clustering key to `repartitionByRange` +
    `sortWithinPartitions` on before writing, so scans filtered on
    EITHER column can skip most files. Unrolled flat expression (a
    higher-order-function fold drops out of codegen; measured 8×
    slower)."""
    mod = 1 << bits
    # pmod, not %: SQL % keeps the dividend's sign, so negative
    # coordinates would emit negative non-interleaved bit terms and the
    # z-curve locality property silently breaks for signed keys. pmod
    # wraps negatives into [0, 2^bits) — order-preserving within any
    # aligned 2^bits window, which is all the interleave ever sees.
    terms = []
    for i in range(bits):
        terms.append(
            f"((pmod({col_a}, {mod}) DIV {1 << i}) % 2) * {1 << (2 * i)}L")
        terms.append(
            f"((pmod({col_b}, {mod}) DIV {1 << i}) % 2) * {1 << (2 * i + 1)}L")
    return df.withColumn(alias, F.expr(" + ".join(terms)))


def decontaminate(train: DataFrame, bench: DataFrame, text_col: str,
                  id_col: str, n: int = 5) -> DataFrame:
    """Per-train-document count of distinct word n-grams shared with the
    benchmark corpus (train/eval-overlap filtering). The benchmark gram
    set is broadcast — the training side never shuffles before its
    per-doc aggregate. Returns (id_col, n_shared_grams)."""
    def grams(df: DataFrame, *keep: str) -> DataFrame:
        terms = df.select(*keep, F.split(F.col(text_col), " ").alias("terms"))
        parts = ", ' ', ".join(f"terms[i+{j}]" for j in range(n))
        expr = (f"CASE WHEN size(terms) >= {n} THEN "
                f"array_distinct(transform(sequence(0, size(terms) - {n}), "
                f"i -> concat({parts}))) ELSE array() END")
        # inline explode: naming the array column and exploding it later
        # breaks codegen at the generate (measured 4× slower)
        return terms.select(*keep, F.explode(F.expr(expr)).alias("__g"))

    b = grams(bench).select("__g").distinct()
    return (
        grams(train, id_col)
        .join(F.broadcast(b), "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def temperature_sample(df: DataFrame, group_col: str, id_col: str,
                       budget: int, temperature: float = 2.0) -> DataFrame:
    """Temperature-scaled mixture resampling: keep ⌊budget·w_g/Σw⌋ rows
    per group where w_g = ⌊n_g^(1/T)·1000⌋ (integer-normalized so the
    targets are engine-exact), selecting each group's smallest-hash-rank
    prefix — deterministic, seedless, reproducible. T→∞ flattens the
    mix; T=1 keeps source proportions."""
    w_ = (
        df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
        .select(group_col,
                F.floor(F.pow(F.col("__n").cast("double"),
                              1.0 / temperature) * 1000)
                .cast("long").alias("__w"))
    )
    tot = w_.agg(F.sum("__w").alias("__tw"))
    tgt = (w_.crossJoin(F.broadcast(tot))
           .select(group_col,
                   F.expr(f"(__w * {budget}) DIV __tw").alias("__target")))
    # xxhash64, not (id * knuth) % 2^32: the Knuth multiply overflows
    # int64 (a hard ARITHMETIC_OVERFLOW under default ANSI mode) for ids
    # above ~3.47e9 — i.e. on any snowflake-style id column
    win = Window.partitionBy(group_col).orderBy(
        F.xxhash64(F.col(id_col)), id_col)
    return (
        df.withColumn("__rk", F.row_number().over(win))
        .join(F.broadcast(tgt), group_col)
        .filter(F.col("__rk") <= F.col("__target"))
        .drop("__rk", "__target")
    )


def kmeans_fit(df: DataFrame, vec_col: str, id_col: str, k: int = 8,
               iters: int = 3, scale: int = 1_000_000) -> DataFrame:
    """Distributed Lloyd k-means over an array<numeric> column in exact
    scaled-integer arithmetic (bit-reproducible across engines and
    partitionings). Returns the input plus ``cluster_id``. Centroids
    live on the driver as O(k·dim) literals, so each iteration is one
    scan + one partial-agged (cluster, dim) mean — no lineage growth,
    corpus-size-independent driver state (the q_embed_kmeans codebook
    trainer, reusable).

    DOMAIN BOUND (r8 review): squared-distance terms are int64, so a
    scaled coordinate difference must stay under √(2⁶³) ≈ 3.04e9 —
    with the default scale=1e6 that means |x − y| < ~3038 per raw
    component. Unit-scale embeddings are far inside the bound; for
    large-magnitude raw features pass a smaller ``scale`` (the same
    exactness holds at any scale ≤ 1e6)."""
    q = df.select(
        F.col(id_col).alias("__id"),
        F.expr(f"transform(cast({vec_col} as array<double>), "
               f"x -> cast(floor(x * {scale}.0D) as bigint))").alias("__v"),
    ).persist()
    first = q.first()
    if first is None:
        # release before raising (r9 review: the error paths leaked
        # the persisted working set until session death)
        q.unpersist()
        raise ValueError("kmeans_fit: input DataFrame is empty")
    dim = len(first["__v"])
    # xxhash64 seeding, not (id * knuth) % 2^32: the Knuth multiply
    # overflows int64 under ANSI mode for ids above ~3.47e9
    init = (q.orderBy(F.xxhash64(F.col("__id")), "__id")
            .limit(k).collect())
    if len(init) < k:
        q.unpersist()   # a repeated k-probe would pin one cache per try
        raise ValueError(
            f"kmeans_fit: k={k} exceeds the {len(init)} input rows")
    cents = {i: list(r["__v"]) for i, r in enumerate(init)}

    def assigned():
        # one SQL-text parse for the whole K×dim matrix (r13 opt; the
        # operator twin q_embed_kmeans documents the measurement:
        # per-element F.lit loops pay k·dim py4j round trips per build)
        inner = ",".join(
            "array(" + ",".join(f"{int(x)}L" for x in cents[c]) + ")"
            for c in range(k))
        lit = F.expr(f"array({inner})")
        dists = F.expr(
            "transform(__cents, c -> aggregate(zip_with(c, __v, "
            "(x, y) -> (x - y) * (x - y)), 0L, (s, t) -> s + t))")
        return (q.withColumn("__cents", lit).withColumn("__d", dists)
                .withColumn("cluster_id",
                            (F.array_position(F.col("__d"),
                                              F.array_min("__d")) - 1)
                            .cast("int"))
                .drop("__cents", "__d"))

    last = None
    for _ in range(iters):
        last = assigned()
        means = (last.select("cluster_id", F.posexplode("__v").alias("i", "x"))
                 .groupBy("cluster_id", "i")
                 .agg(F.expr("sum(x) DIV count(1)").alias("s")).collect())
        upd: dict[int, dict[int, int]] = {}
        for r in means:
            upd.setdefault(r.cluster_id, {})[r.i] = r.s
        for c, comp in upd.items():
            cents[c] = [comp[i] for i in range(dim)]
    # materialize the narrow label frame BEFORE releasing the cached
    # working set (r8 review: unpersisting first made every downstream
    # action on the result recompute the whole scan+assign chain)
    labels = last.select("__id", "cluster_id").localCheckpoint(eager=True)
    q.unpersist()
    return df.join(labels, F.col(id_col) == F.col("__id")).drop("__id")


def repeated_spans(df: DataFrame, text_col: str, id_col: str,
                   k: int = 8, min_docs: int = 2) -> DataFrame:
    """Cross-document repeated-span report over an arbitrary text table
    (the q_dedup_spans algorithm, reusable): for every document, how many
    of its k-term spans occur in >= ``min_docs`` distinct documents.
    Returns (id_col, n_spans, n_dup_spans, dup_share). One span-keyed
    partial-agged shuffle + a broadcast dup-set join back — the corpus
    side never shuffles for the join (Bloom semi-join is the 100 TB
    swap for the broadcast)."""
    spans_expr = (
        f"CASE WHEN size(__terms) >= {k} THEN "
        f"transform(sequence(1, size(__terms) - {k - 1}), "
        f"i -> concat_ws(' ', slice(__terms, i, {k}))) ELSE array() END"
    )
    # r13 opt (guide §2.5): the k-term concat_ws fan-out is executed
    # TWICE (dup-set broadcast build + the join pass), both in the scan
    # stage — single-task on a single-file table (two 0.6–0.9 s 1-task
    # stages at sf0.1; query min 2.30 → 1.25 s after). Scale-adaptive:
    # no-op when the scan already parallelizes. (The cheap split-only
    # text explodes measured WORSE with this — the concat fan-out is
    # what amortizes the exchange.)
    from .operators.materialize import spread_scan
    spans = (
        spread_scan(df).select(F.col(id_col).alias("__id"),
                               F.split(F.col(text_col), " ").alias("__terms"))
        .select("__id", F.explode_outer(F.expr(spans_expr)).alias("__span"))
    )
    dup = (
        spans.filter(F.col("__span").isNotNull())
        .groupBy("__span")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__span", F.lit(1).alias("__dup"))
    )
    return (
        spans.join(F.broadcast(dup), "__span", "left")
        .groupBy(F.col("__id").alias(id_col))
        .agg(F.count(F.col("__span")).alias("n_spans"),
             F.coalesce(F.sum("__dup"), F.lit(0)).cast("long")
             .alias("n_dup_spans"))
        .select(id_col, "n_spans", "n_dup_spans",
                F.when(F.col("n_spans") > 0,
                       F.round(F.col("n_dup_spans").cast("double")
                               / F.col("n_spans"), 6))
                .otherwise(F.lit(0.0)).alias("dup_share"))
    )


def containment_pairs(df: DataFrame, text_col: str, id_col: str,
                      n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Asymmetric n-gram containment pairs |A∩B|/|A| over an arbitrary
    text table (the q_text_containment algorithm, reusable): unordered
    candidate pairs where EITHER direction's containment clears
    ``threshold``. Returns (id_a, id_b, n_common, na, nb, cont_ab,
    cont_ba). Shingle-co-occurrence join — only docs sharing a shingle
    ever pair; block by LSH bucket first at corpus scale."""
    sh = (
        f"CASE WHEN size(__terms) >= {n} THEN "
        f"array_distinct(transform(sequence(1, size(__terms) - {n - 1}), "
        f"i -> concat_ws(' ', slice(__terms, i, {n})))) "
        f"ELSE array(concat_ws(' ', __terms)) END"
    )
    # NULL/empty texts are EXCLUDED (r8 review): split(NULL) -> NULL
    # terms and the short-doc branch would emit the shared '' shingle,
    # pairing every contentless doc with every other quadratically at
    # cont=1.0 (m empty rows -> ~m^2/2 bogus pairs). A doc with no
    # content has no n-grams to contain.
    e = (
        df.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(F.col(id_col).alias("__id"),
                F.split(F.col(text_col), " ").alias("__terms"))
        .select("__id", F.expr(sh).alias("__sh"))
        .select("__id", F.size("__sh").cast("long").alias("__n"),
                F.explode("__sh").alias("__g"))
    )
    return containment_from_exploded(e, threshold=threshold)


def containment_from_exploded(e: DataFrame,
                              threshold: float = 0.5) -> DataFrame:
    """The containment pair-mining core over a pre-exploded
    (__id, __n, __g) distinct-shingle frame — ONE definition shared by
    :func:`containment_pairs` (raw text) and q_text_containment (the
    dedup family's cached shingle frame), so the two can never drift.
    The keep filter is EXACT integer arithmetic (threshold as a
    fraction: n·den ≥ size·num), never a float boundary."""
    from fractions import Fraction

    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator
    a, b = e.alias("a"), e.alias("b")
    pairs = (
        a.join(b, (F.col("a.__g") == F.col("b.__g"))
               & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"),
             F.min("a.__n").alias("na"), F.min("b.__n").alias("nb"))
    )
    keep = ((F.col("n_common") * den >= F.col("na") * num)
            | (F.col("n_common") * den >= F.col("nb") * num))
    return pairs.filter(keep).select(
        "id_a", "id_b", "n_common", "na", "nb",
        F.round(F.col("n_common").cast("double") / F.col("na"), 6)
        .alias("cont_ab"),
        F.round(F.col("n_common").cast("double") / F.col("nb"), 6)
        .alias("cont_ba"),
    )


def pq_assign(df: DataFrame, vec_col: str, id_col: str,
              codebooks: list[list[list[int]]],
              scale: int = 1_000_000) -> DataFrame:
    """Product-quantization code assignment against caller-supplied
    per-subspace codebooks (the q_embed_pq kernel, reusable; train the
    books with ``kmeans_fit`` per subspace slice). ``codebooks[s][j]`` is
    centroid j of subspace s in the SAME floor(x·scale) integer domain
    this function quantizes ``vec_col`` into; subspaces are equal
    consecutive slices. Returns the input ids plus code_<s> and the
    exact total quantization error. Codebooks ride along as literals —
    one stateless scan, zero shuffles at any corpus size. Same int64
    domain bound as :func:`kmeans_fit`: |scaled x − centroid| must stay
    under ~3.04e9 per component (unit-scale embeddings at scale=1e6 are
    far inside; shrink ``scale`` for large-magnitude features)."""
    sub = None
    for s, book in enumerate(codebooks):
        dims = {len(c) for c in book}
        assert len(dims) == 1, f"ragged codebook {s}"
        d = dims.pop()
        sub = d if sub is None else sub
        assert d == sub, "subspaces must be equal length"
    q = df.select(
        F.col(id_col).alias("__id"),
        F.expr(f"transform(cast({vec_col} as array<double>), "
               f"x -> cast(floor(x * {scale}.0D) as bigint))").alias("__v"),
    )
    out = q
    err = None
    for s, book in enumerate(codebooks):
        lo = s * sub + 1
        structs = ", ".join(
            "named_struct('d', aggregate(zip_with("
            f"slice(__v, {lo}, {sub}), "
            f"array({', '.join(str(int(x)) for x in c)}), "
            "(x, y) -> (x - y) * (x - y)), 0L, (acc, t) -> acc + t), "
            f"'c', {j})"
            for j, c in enumerate(book)
        )
        out = out.withColumn(f"__b{s}",
                             F.expr(f"array_min(array({structs}))"))
        e = F.col(f"__b{s}.d")
        err = e if err is None else err + e
    codes = [F.col(f"__b{s}.c").alias(f"code_{s}")
             for s in range(len(codebooks))]
    return out.select(F.col("__id").alias(id_col), *codes,
                      err.cast("long").alias("qerr"))


def mix_drift_chi2(df: DataFrame, group_col: str, class_col: str,
                   critical: float = 9.487729) -> DataFrame:
    """Per-group class-mix drift vs the whole-table mix (the
    q_curate_drift_chi2 algorithm, reusable): chi-square of each group's
    ``class_col`` histogram against the marginal distribution, summed in
    explicit class order so the float chain is engine-reproducible.
    Returns (group_col, n_rows, n_classes, chi2, drifted)."""
    from .operators.materialize import persist

    # r14 (VERDICT r13 #2): the contingency matrix m feeds four
    # consumers (class totals, group totals, grand total, the grid
    # join) — each a full logical pass over the input. The persist is
    # size-conditional on the INPUT frame's estimate (the cost of one
    # redundant pass): a no-op on small inputs where the r13
    # measurement showed the barrier losing and on inputs with no size
    # estimate, one input scan in the executed plan above it.
    m = persist(
        df.groupBy(group_col, class_col).agg(F.count(F.lit(1)).alias("__o")),
        ref=df)
    ct = m.groupBy(class_col).agg(F.sum("__o").alias("__ct"))
    gt = m.groupBy(group_col).agg(F.sum("__o").alias("__gt"))
    tot = m.agg(F.sum("__o").alias("__tot"))
    grid = (
        gt.crossJoin(F.broadcast(ct)).crossJoin(F.broadcast(tot))
        .join(F.broadcast(m), [group_col, class_col], "left")
        .withColumn("__o", F.coalesce(F.col("__o"), F.lit(0)))
    )
    exp = (F.col("__gt") * F.col("__ct")).cast("double") / F.col("__tot")
    term = ((F.col("__o") - exp) * (F.col("__o") - exp)) / exp
    folded = (
        grid.select(group_col, "__gt", F.col(class_col).alias("__cls"),
                    term.alias("__term"))
        .groupBy(group_col)
        .agg(F.min("__gt").alias("n_rows"),
             F.count(F.lit(1)).cast("int").alias("n_classes"),
             F.aggregate(
                 F.sort_array(F.collect_list(F.struct("__cls", "__term"))),
                 F.lit(0.0), lambda acc, x: acc + x["__term"])
             .alias("__chi2"))
    )
    return folded.select(
        group_col, "n_rows", "n_classes",
        F.round("__chi2", 6).alias("chi2"),
        (F.col("__chi2") > F.lit(critical)).alias("drifted"),
    )


def cooccurrence_pairs(df: DataFrame, group_col: str, item_col: str,
                       min_support: int = 1,
                       max_items_per_group: int | None = None) -> DataFrame:
    """Distinct unordered item pairs per group, counted across groups:
    (item_a, item_b, together) with item_a < item_b and ``together`` =
    number of groups containing both — the candidate-pair primitive
    behind market-basket lift (q_basket_affinity) and co-occurrence
    graph edges (q_graph_triangles).

    ONE group-keyed shuffle builds each group's sorted distinct item
    set (collect_set dedups in the partial aggregate), then the pair
    fan-out runs map-side inside whole-stage codegen (JVM higher-order
    functions, no self-join, no second exchange of the input), and the
    pair count partial-aggregates into the only other shuffle. Cost is
    the same Sum |group|^2 a self-join pays, without the distinct's
    extra exchange or the join's build side. Skew guard at scale:
    ``max_items_per_group`` slices each group's sorted item set to the
    first N items before the fan-out, bounding a hub group's pair count
    at N^2 instead of |group|^2 (sorted order makes the kept subset
    deterministic; counts for pairs of dropped items become approximate
    for capped groups only).
    """
    baskets = (
        df.groupBy(F.col(group_col).alias("__g"))
        .agg(F.sort_array(F.collect_set(F.col(item_col))).alias("__arr"))
    )
    if max_items_per_group is not None:
        baskets = baskets.withColumn(
            "__arr", F.slice("__arr", 1, int(max_items_per_group)))
    pairs = baskets.select(F.explode(F.expr(
        "flatten(transform(__arr, (x, i) -> "
        "transform(slice(__arr, i + 2, size(__arr)), "
        "y -> struct(x AS item_a, y AS item_b))))"
    )).alias("__p")).select("__p.item_a", "__p.item_b")
    out = (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("together"))
    )
    if min_support > 1:
        out = out.filter(F.col("together") >= min_support)
    return out


def _shuffle_partitions(spark) -> int:
    """Session shuffle-partition count as an int, falling back to
    cluster width when the conf is non-numeric (e.g. "auto" under a
    platform's auto-optimized shuffle — ADVICE r13: an int() crash here
    turned a working API call into a ValueError on such platforms)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def interval_overlap_join(left: DataFrame, right: DataFrame,
                          start_col: str = "s_us", end_col: str = "e_us",
                          bucket_us: int = 86_400_000_000) -> DataFrame:
    """Bucketized interval-overlap join (the q_join_interval_overlap
    algorithm, reusable): every (left, right) row pair whose closed
    integer-microsecond intervals ``[start_col, end_col]`` overlap.
    Both inputs must carry BIGINT ``start_col``/``end_col``; all other
    columns come back prefixed ``l_`` / ``r_`` plus ``overlap_us``.

    Each interval explodes to the coarse buckets it covers (replication
    = span/bucket_us), the join is an EQUI-join on bucket with the exact
    predicate as residual, and pairs spanning several shared buckets are
    kept once via the bucket-ownership rule (the pair is emitted only in
    the bucket containing the overlap start) — no distinct needed.
    Candidate cost Σ|bucket|², never |L|·|R|; tune ``bucket_us`` to the
    interval-length scale, salt globally hot buckets."""
    def keyed(df: DataFrame, prefix: str) -> DataFrame:
        renamed = df.select(
            [F.col(c).alias(f"{prefix}{c}") for c in df.columns])
        s, e = f"{prefix}{start_col}", f"{prefix}{end_col}"
        return renamed.withColumn(
            "__bucket",
            F.explode(F.sequence(F.col(s) - (F.col(s) % bucket_us),
                                 F.col(e) - (F.col(e) % bucket_us),
                                 F.lit(bucket_us))),
        )
    a, b = keyed(left, "l_"), keyed(right, "r_")
    # r13 opt (guide §2.5): the per-bucket Σ|bucket|² probe is COMPUTE-
    # dense but byte-light, so AQE's size-based coalescing collapsed the
    # join stage to ONE post-shuffle task (measured: the whole exact
    # overlap join ran single-task in the save stage, 1.36 s of a 1.8 s
    # query; 1.78 → 1.22 s after). An EXPLICIT hash repartition on the
    # bucket key pins the join's parallelism (user-specified partitioning
    # is exempt from AQE coalescing); the count rides the session's
    # shuffle-partition setting, so it scales with cluster config
    # rather than a local constant.
    n_parts = _shuffle_partitions(a.sparkSession)
    a = a.repartition(n_parts, "__bucket")
    b = b.repartition(n_parts, "__bucket")
    ls, le = f"l_{start_col}", f"l_{end_col}"
    rs, re_ = f"r_{start_col}", f"r_{end_col}"
    ov_start = F.greatest(ls, rs)
    return (
        a.join(b, ["__bucket"])
        .filter((F.col(ls) <= F.col(re_)) & (F.col(rs) <= F.col(le)))
        # ownership: emit only in the bucket where the overlap starts
        .filter(ov_start - (ov_start % bucket_us) == F.col("__bucket"))
        .withColumn("overlap_us",
                    F.least(le, re_) - F.greatest(ls, rs))
        .drop("__bucket")
    )


def interval_overlap_self_join_capped(
        intervals: DataFrame, start_col: str = "s_us",
        end_col: str = "e_us", bucket_us: int = 86_400_000_000,
        cap: int = 64,
        tie_cols: tuple[str, ...] = ()) -> tuple[DataFrame, DataFrame]:
    """The 100 TB FUSE for :func:`interval_overlap_join` (r12, the r11
    verdict's missing-#3): per-bucket OCCUPANCY cap, so a flash-crowd
    bucket's candidate cost is bounded by ``cap²`` instead of
    ``|bucket|²`` — the only way the exact form's wall goes superlinear
    (measured /unit 1.14 → 3.35 at 10×/30×, honest output growth, but a
    single globally hot hour at 100 TB would stall a straggler task).

    Semantics (deterministic, oracle-expressible): intervals explode to
    buckets as in the exact form; WITHIN each bucket they are ranked by
    ``(start, end, *tie_cols)`` — callers must pass tie_cols making the
    order total — and only the first ``cap`` memberships survive. Pairs
    form only between intervals BOTH kept in the pair's overlap-start
    bucket (the same ownership rule as the exact form, evaluated on the
    capped membership). Below the cap the result is IDENTICAL to
    :func:`interval_overlap_join`; above it the second return value is
    the audit frame — one row, ``(n_buckets_capped,
    n_dropped_memberships)`` — so truncation is always REPORTED, never
    silent (the no-silent-caps rule).

    Returns ``(pairs, audit)``. Pairs carry ``l_``/``r_`` prefixed
    columns plus ``overlap_us``; like the exact form, every kept
    membership pairs with every other INCLUDING itself — callers add
    their own ordering cut (e.g. ``l_user_id < r_user_id``), which also
    removes self-pairs.

    Scale shape: one explode + ONE bucket-partitioned window rank
    (cap-truncated), eagerly localCheckpointed so the audit aggregate
    and the pair join read the SAME materialization (the r4
    shared-subtree rule) — then the equi-join on bucket over ≤cap rows
    per bucket. Work per bucket is O(cap²) regardless of skew; total
    candidate cost ≤ n_buckets·cap².
    """
    s, e = F.col(start_col), F.col(end_col)
    order = [F.col(c) for c in (start_col, end_col, *tie_cols)]
    ranked = (
        intervals.withColumn(
            "__bucket",
            F.explode(F.sequence(s - (s % bucket_us), e - (e % bucket_us),
                                 F.lit(bucket_us))))
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy("__bucket").orderBy(*order)))
    ).localCheckpoint(eager=True)
    audit = ranked.agg(
        F.countDistinct(
            F.when(F.col("__rn") > cap, F.col("__bucket")))
        .cast("long").alias("n_buckets_capped"),
        F.coalesce(F.sum(F.when(F.col("__rn") > cap, 1)), F.lit(0))
        .cast("long").alias("n_dropped_memberships"),
    )
    kept = ranked.filter(F.col("__rn") <= cap).drop("__rn")
    other = [c for c in intervals.columns
             if c not in (start_col, end_col)]

    def pref(p: str) -> DataFrame:
        return kept.select(
            "__bucket",
            *[F.col(c).alias(f"{p}{c}") for c in (start_col, end_col,
                                                  *other)])

    ls, le = f"l_{start_col}", f"l_{end_col}"
    rs, re_ = f"r_{start_col}", f"r_{end_col}"
    ov_start = F.greatest(ls, rs)
    pairs = (
        pref("l_").join(pref("r_"), ["__bucket"])
        .filter((F.col(ls) <= F.col(re_)) & (F.col(rs) <= F.col(le)))
        # ownership: emit only in the bucket where the overlap starts
        .filter(ov_start - (ov_start % bucket_us) == F.col("__bucket"))
        .withColumn("overlap_us", F.least(le, re_) - F.greatest(ls, rs))
        .drop("__bucket")
    )
    return pairs, audit


def holt_smooth(df: DataFrame, key_cols: list[str], order_col: str,
                value_col: str, alpha: float = 0.4,
                beta: float = 0.3) -> DataFrame:
    """Holt double-exponential smoothing per key (the q_ts_holt
    algorithm, reusable): lᵢ = αxᵢ + (1−α)(lᵢ₋₁+bᵢ₋₁),
    bᵢ = β(lᵢ−lᵢ₋₁) + (1−β)bᵢ₋₁, initialized l₁=x₁, b₁=x₂−x₁.
    Series shorter than 2 points are dropped. Returns
    (key_cols…, n_points, level, trend, forecast_next) at full double
    precision (callers round for display). One shuffle: the series
    collect; fold order comes from sort_array, not a window sort.

    NULL ticks are SKIPPED (r9 review): collect_list keeps struct
    elements whose .x is NULL, so one bad tick would otherwise NULL the
    init (b = x₂−x₁) and propagate NULL through the whole fold —
    destroying the key's entire output. n_points counts the non-null
    ticks actually folded."""
    a, ia = float(alpha), 1.0 - float(alpha)
    bcoef, ib = float(beta), 1.0 - float(beta)
    series = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.expr(f"transform(sort_array(collect_list(struct({order_col} "
                   f"AS o, CAST({value_col} AS DOUBLE) AS x))), s -> s.x)")
            .alias("__xs"),
        )
        .filter(F.col("n_points") >= 2)
    )
    new_l = (f"CAST({a!r} AS DOUBLE) * x "
             f"+ CAST({ia!r} AS DOUBLE) * (acc.l + acc.b)")
    # init l=x1, b=x2-x1: Spark [] indexing is 0-BASED (__xs[0] is x1).
    # The earlier __xs[1]/__xs[2] init computed from x2/x3 (wrong level
    # and trend on short/non-linear series; exponentially forgotten on
    # long ones) and threw INVALID_ARRAY_INDEX on 2-point series under
    # ANSI mode.
    fold = F.expr(f"""
        aggregate(
            slice(__xs, 2, size(__xs) - 1),
            named_struct('l', __xs[0], 'b', __xs[1] - __xs[0]),
            (acc, x) -> named_struct(
                'l', {new_l},
                'b', CAST({bcoef!r} AS DOUBLE) * (({new_l}) - acc.l)
                     + CAST({ib!r} AS DOUBLE) * acc.b))
    """)
    return (
        series.withColumn("__st", fold)
        .select(*key_cols, "n_points",
                F.col("__st.l").alias("level"),
                F.col("__st.b").alias("trend"),
                (F.col("__st.l") + F.col("__st.b")).alias("forecast_next"))
    )


def cusum_changepoint(df: DataFrame, key_cols: list[str], order_col: str,
                      count_col: str) -> DataFrame:
    """Exact-integer CUSUM changepoint per key (the q_ts_changepoint
    algorithm, reusable): the ``order_col`` position where the running
    deviation of BIGINT ``count_col`` from the series mean peaks, using
    the scaled form k·Σᵢ − i·Σ (never a float division; the products
    are DECIMAL(38,0) — k·cum exceeds int64 once n·Σ passes ~9.2e18,
    reachable on 100 TB keys, r8 review). Returns
    (key_cols…, cp_at, dev_scaled, n_points, total)."""
    tot = df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("__k"), F.sum(count_col).alias("__s"))
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    c = (
        df.join(F.broadcast(tot), key_cols)
        .withColumn("__cum", F.sum(count_col).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("__i", F.row_number().over(w).cast("long"))
        .withColumn("__dev", F.abs(
            F.col("__k").cast("decimal(38,0)") * F.col("__cum")
            - F.col("__i").cast("decimal(38,0)") * F.col("__s")))
    )
    rnw = Window.partitionBy(*key_cols).orderBy(F.desc("__dev"), order_col)
    return (
        c.withColumn("__rn", F.row_number().over(rnw))
        .filter(F.col("__rn") == 1)
        .select(*key_cols, F.col(order_col).alias("cp_at"),
                F.col("__dev").alias("dev_scaled"),
                F.col("__k").alias("n_points"), F.col("__s").alias("total"))
    )


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", *,
                         vertices: DataFrame | None = None,
                         vertex_col: str = "doc_id",
                         partitions: int | None = None,
                         return_rounds: bool = False):
    """Connected components by alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the production-scale refinement of q_dedup_clusters' hash-min BSP.

    Why a second CC: hash-min converges in O(component diameter) rounds
    (a path of n nodes needs ~n rounds), while star contraction halves
    long chains every alternation — O(log² n) rounds worst case, and in
    practice a handful (the round-count win is measured in
    tests/test_dedup.py: a 40-node path takes 40 hash-min rounds vs ≤ 12
    here). Per round: two groupBy-min shuffles + two co-keyed joins over
    an edge-sized frame that only ever SHRINKS toward one star per
    component — no vertex table is carried through the loop.

    large-star(u): every neighbor v > u re-attaches to
    m = min(Γ(u) ∪ {u}); small-star on (u > v)-oriented edges: u and all
    its smaller neighbors attach to their collective min. Both preserve
    connectivity and strictly reduce total edge "height"; the fixpoint
    is one star per component rooted at its minimum id.

    Fixpoint detection: (count, Σ xxhash64(u, v)) of the canonical edge
    set, ONE aggregate per round (an exact set-equality join would be a
    second shuffle). Lineage is truncated with an EAGER localCheckpoint
    EVERY round — unlike hash-min's every-3 cadence: here each round's
    plan references the previous round's subtree ~8× (small reads large
    twice, large reads nbrs twice, nbrs reads e twice), so un-truncated
    lineage grows 8^rounds and Catalyst's plan stringification OOMs by
    round 3 on a non-trivial edge build. The checkpointed frames are
    edge-sized; superseded rounds are freed by the ContextCleaner when
    unreferenced (never unpersist a localCheckpoint — that deletes its
    backing blocks).

    Returns (vertex_col, cluster_id) — cluster_id = min reachable id,
    self for isolated vertices (supply ``vertices`` to include ids with
    no edges). With ``return_rounds=True`` returns (frame, n_rounds).
    """
    spark = edges.sparkSession
    n_parts = partitions or int(spark.conf.get(
        "spark.zke.cc.partitions",
        str(max(2, spark.sparkContext.defaultParallelism // 8))))

    def orient(df: DataFrame, a: str, b: str) -> DataFrame:
        """Canonical (u > v) undirected edge set, self-loops dropped.

        Ids are cast to long BEFORE greatest/least so string-typed ids
        orient numerically, not lexicographically ('9' vs '10').
        """
        ca, cb = F.col(a).cast("long"), F.col(b).cast("long")
        return (
            df.select(ca.alias("_a"), cb.alias("_b"))
            .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull()
                    & (F.col("_a") != F.col("_b")))
            .select(F.greatest("_a", "_b").alias("u"),
                    F.least("_a", "_b").alias("v"))
            .distinct()
        )

    e = orient(edges, src, dst).repartition(n_parts, "u") \
        .localCheckpoint(eager=True)
    prev_sig, rounds = None, 0
    while True:
        rounds += 1
        # r14 (guide §2.3/§2.4 — halve the large-star phase): every
        # stored edge has u > v (orient/greatest-least invariant,
        # preserved by both star steps), so in min(Γ(x) ∪ {x}) the
        # up-neighbors of x (all > x) can NEVER be the minimum — the
        # closed-neighborhood min is just min(x, min down-neighbor).
        # And the old nbrs.filter(v > u) kept exactly the reversed edge
        # rows, i.e. large-star emitted precisely {(u, m(v)) : (u,v)∈e}.
        # Computing that directly drops the 2|e|-row union + wide
        # groupBy + filter for an |e|-row groupBy + one left join:
        # identical per-round output (pinned by tests/test_dedup
        # equivalence + the r14 round-count test), half the shuffled
        # rows in the phase that dominates each round.
        dmin = e.groupBy("u").agg(F.min("v").alias("m"))
        large = (
            e.join(dmin.select(F.col("u").alias("v"), "m"), "v", "left")
            # m(v) = coalesce(min down-neighbor of v, v) ≤ v < u, so
            # the pair (u, m(v)) is already ordered and never equal
            .select("u", F.coalesce("m", F.col("v")).alias("v"))
            .distinct()
        )
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(smins.select(F.col("u").alias("a"),
                                      F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("u"),
                    F.least("a", "b").alias("v"))
            .distinct()
            .repartition(n_parts, "u")
        )
        # LAZY checkpoint (r13 opt): the signature aggregate on the next
        # line materializes the checkpoint as a side effect of its own
        # job, so each round runs ONE job instead of an eager-checkpoint
        # job plus the signature job. Within the signature job the frame
        # is referenced once, so nothing recomputes; every LATER
        # reference (the ~8 per-round reads that force checkpointing at
        # all) is served from the materialized blocks. Measured
        # interleaved: 2.19 → 2.00 s for the 2-round sf0.1 loop.
        small = small.localCheckpoint(eager=False)
        sig = small.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) sum: exact and overflow-free under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        prev_e, e = e, small
        if (sig.n, sig.h) == prev_sig:
            # the (count, hash-sum) signature is probabilistic; confirm
            # the fixpoint exactly with one anti-join (both sides are
            # distinct sets of equal count, so one side suffices).
            # Runs at most once per true fixpoint — O(final edge set).
            if small.join(prev_e, ["u", "v"], "left_anti").limit(1).count() == 0:
                break
        prev_sig = (sig.n, sig.h)

    # at fixpoint every non-root appears as u exactly once with v = root
    labels = e.select(F.col("u").alias(vertex_col),
                      F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias(vertex_col)).distinct() \
        .withColumn("cluster_id", F.col(vertex_col))
    out = labels.unionByName(roots)
    if vertices is not None:
        iso = (
            vertices.select(F.col(vertex_col).cast("long").alias(vertex_col))
            .join(out.select(vertex_col), vertex_col, "left_anti")
            .withColumn("cluster_id", F.col(vertex_col))
        )
        out = out.unionByName(iso)
    out = out.localCheckpoint(eager=True)
    return (out, rounds) if return_rounds else out
