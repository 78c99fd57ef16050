"""Round-4 (second wave) pipeline extensions — four primitives that round
out under-represented shapes in the SURVEY.md §2.2 inventory:

- ``q_join_interval_overlap`` bucketized interval-overlap self-join over the
                          session table (concurrent-activity pairs) — the
                          generic two-interval-set overlap join, distinct
                          from the point-in-range / as-of family;
- ``q_ts_holt``           Holt double-exponential smoothing (level + trend)
                          — the two-state recursive smoother extending
                          q_ts_ewma's single-state fold;
- ``q_events_paths``      top user journey prefixes (ordered first-5 event
                          types) — sequence mining next to the Markov
                          transition matrix;
- ``q_ts_changepoint``    exact-integer CUSUM changepoint detection per
                          series — the offline change-detection twin of the
                          3σ anomaly rule.

Registered after pipeline_ext (registry import order) so the driver's
budgeted correctness pass certifies earlier backlogs first.

Reference parity note: the reference (zio-kinesis-example) has no batch
surface — this module is north-star surface mandated by BASELINE.json.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import query
from .exact import measure_domain

# --------------------------------------------------------------------------
# q_join_interval_overlap — bucketized interval-overlap self-join
# --------------------------------------------------------------------------

# Hour buckets, not days: the fixture sessions are mostly minutes long but
# TIME-DENSE (every hour of the month has ~100+ live sessions), so candidate
# cost Σ|bucket|² is what matters — hour buckets cut it ~25× (measured
# 7.0 s → 1.9 s at sf0.1) while the ~1 replication factor is unchanged.
# The general tuning rule: bucket ≈ typical interval span, never >> it.
_BUCKET_US = 3_600_000_000

# The oracle derives the same session table as q_win_session_batch's oracle
# (shared gaps-and-islands definition), then states overlap as the textbook
# predicate self-join — the semantic definition the bucketized Spark plan
# must reproduce exactly.
_OVERLAP_ORACLE = """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts)
                        > 3600000000 THEN 1 ELSE 0 END AS new_sess
        FROM events
        WHERE ts IS NOT NULL),
    s AS (
        SELECT user_id,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts)
                    AS BIGINT) AS session_id,
               ts
        FROM g),
    t AS (
        SELECT user_id, session_id,
               epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
        FROM s GROUP BY user_id, session_id)
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us))
                AS BIGINT) AS overlap_us
    FROM t a JOIN t b
      ON a.user_id < b.user_id
     AND a.s_us <= b.e_us AND b.s_us <= a.e_us
    GROUP BY 1, 2
"""


@query(
    "q_join_interval_overlap",
    oracle=_OVERLAP_ORACLE,
    tags=("join", "interval", "session"),
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: pairs of DIFFERENT users whose activity
    sessions (q_win_session_batch's 1-hour-gap islands — primitive defined
    once, reused here) overlap in time, with pair counts and total overlap
    microseconds. Touching endpoints count (closed intervals). This is the
    general two-interval-set overlap join — the missing sibling of the
    point-in-range join (q_join_range), the as-of family, and the interval
    window frame.

    DETERMINISM: all boundary math in integer microseconds; overlap width
    = min(end) − max(start) summed as BIGINT — engine-exact.

    Scale shape: the naive form is an inequality self-join (O(n²)
    candidate space, not hash-partitionable). Instead each interval
    EXPLODES to the hour buckets it covers (replication factor =
    interval span / bucket, ~1 here), the join is an EQUI-join on bucket
    with the exact overlap predicate as residual, and a bucket-spanning
    pair is emitted exactly once by the OWNERSHIP rule (only in the
    bucket containing the overlap start) — no dedup shuffle. Candidate
    cost is Σ|bucket|² (bounded by per-hour concurrency), never
    |sessions|² — the same bucket-then-verify posture as the LSH/grid
    joins. A globally hot bucket (flash-crowd hour) is bounded by the
    REGISTERED fuse variant q_join_interval_overlap_capped (r12):
    per-bucket occupancy cap with an explicit truncation audit, results
    ≡ this exact form below the cap. Bucket width tunes replication vs
    occupancy at 100 TB (rule: bucket ≈ typical interval span).
    """
    from ..api import interval_overlap_join
    from .advanced import q_win_session_batch

    s = q_win_session_batch(spark, sf_dir).select(
        "user_id", "session_id",
        F.unix_micros(F.col("session_start").cast("timestamp"))
        .alias("s_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("e_us"),
    )
    # the bucketize/equi-join/ownership core is api.interval_overlap_join
    # ("the q_join_interval_overlap algorithm, reusable") bound back to
    # its registry query (r8 review); the user_a < user_b cut rides the
    # join as a residual predicate exactly as before (Catalyst collapses
    # the adjacent filter into the join condition)
    pairs = (
        interval_overlap_join(s, s, "s_us", "e_us", bucket_us=_BUCKET_US)
        .filter(F.col("l_user_id") < F.col("r_user_id"))
    )
    return (
        pairs.groupBy(F.col("l_user_id").alias("user_a"),
                      F.col("r_user_id").alias("user_b"))
        .agg(F.count(F.lit(1)).alias("n_overlaps"),
             F.sum("overlap_us").cast("long").alias("overlap_us"))
    )


# --------------------------------------------------------------------------
# q_join_interval_overlap_capped — the exact form's 100 TB fuse (r12)
# --------------------------------------------------------------------------

# Occupancy cap per hour bucket. 20 is chosen to BIND on the fixtures
# themselves, so the truncation path is exercised by the sf0.01 gate,
# not just documented: per-hour session occupancy is max 6 at sf0.001
# (cap never binds — capped ≡ exact, pytest-asserted), max 28 at sf0.01
# (a few buckets truncate), median 133 at sf0.1 (most buckets truncate —
# the wall is cap-bounded, not occupancy-bounded, which is the fuse's
# whole claim).
_OVERLAP_CAP = 20

_OVERLAP_CAPPED_ORACLE = f"""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts)
                        > 3600000000 THEN 1 ELSE 0 END AS new_sess
        FROM events
        WHERE ts IS NOT NULL),
    s AS (
        SELECT user_id,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts)
                    AS BIGINT) AS session_id,
               ts
        FROM g),
    t AS (
        SELECT user_id, session_id,
               epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
        FROM s GROUP BY user_id, session_id),
    b AS (
        SELECT user_id, session_id, s_us, e_us,
               unnest(generate_series(s_us - s_us % {_BUCKET_US},
                                      e_us - e_us % {_BUCKET_US},
                                      {_BUCKET_US})) AS bucket
        FROM t),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY bucket
                   ORDER BY s_us, e_us, user_id, session_id) AS rn
        FROM b),
    audit AS (
        SELECT CAST(COUNT(DISTINCT CASE WHEN rn > {_OVERLAP_CAP}
                                        THEN bucket END) AS BIGINT)
                   AS n_buckets_capped,
               CAST(coalesce(SUM(CASE WHEN rn > {_OVERLAP_CAP}
                                      THEN 1 END), 0) AS BIGINT)
                   AS n_dropped_memberships
        FROM r),
    k AS (SELECT * FROM r WHERE rn <= {_OVERLAP_CAP}),
    p AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) AS ov
        FROM k a JOIN k b
          ON a.bucket = b.bucket
         AND a.user_id < b.user_id
         AND a.s_us <= b.e_us AND b.s_us <= a.e_us
         AND greatest(a.s_us, b.s_us)
             - greatest(a.s_us, b.s_us) % {_BUCKET_US} = a.bucket),
    agg AS (
        SELECT user_a, user_b, CAST(COUNT(*) AS BIGINT) AS n_overlaps,
               CAST(SUM(ov) AS BIGINT) AS overlap_us
        FROM p GROUP BY 1, 2)
    SELECT agg.*, audit.* FROM agg, audit
"""


@query(
    "q_join_interval_overlap_capped",
    oracle=_OVERLAP_CAPPED_ORACLE,
    tags=("join", "interval", "session", "fuse"),
)
def q_join_interval_overlap_capped(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The bounded variant of q_join_interval_overlap — the registered,
    oracle-checked 100 TB fuse its docstring used to only DOCUMENT (r11
    verdict missing-#3, the pattern q_join_skew_salted set for skew and
    q_agg_approx_* for sketches).

    Per-bucket occupancy cap (api.interval_overlap_self_join_capped):
    within each hour bucket, sessions rank by (s_us, e_us, user_id,
    session_id) — a total order, (user_id, session_id) is the session
    PK — and only the first cap=20 memberships pair. Results are
    IDENTICAL to the exact form wherever occupancy ≤ cap
    (pytest-asserted at sf0.001, where the max is 6); above it the
    truncation is contract-checked, never silent: every output row
    carries the global audit (n_buckets_capped, n_dropped_memberships)
    from the SAME ranked materialization.

    DETERMINISM: the rank's tie-break chain is total, so both engines
    keep the same memberships; boundary math stays integer micros.

    Scale shape: candidate cost per bucket is O(cap²) REGARDLESS of
    skew — a flash-crowd hour costs the same as a quiet one — versus
    the exact form's Σ|bucket|² (measured superlinear /unit 1.14→3.35
    at 10×/30×). The audit columns make the trade observable: a
    pipeline that sees n_buckets_capped rising re-runs affected hours
    with the exact form or a finer bucket.
    """
    from ..api import interval_overlap_self_join_capped
    from .advanced import q_win_session_batch

    s = q_win_session_batch(spark, sf_dir).select(
        "user_id", "session_id",
        F.unix_micros(F.col("session_start").cast("timestamp"))
        .alias("s_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("e_us"),
    )
    pairs, audit = interval_overlap_self_join_capped(
        s, "s_us", "e_us", bucket_us=_BUCKET_US, cap=_OVERLAP_CAP,
        tie_cols=("user_id", "session_id"))
    agg = (
        pairs.filter(F.col("l_user_id") < F.col("r_user_id"))
        .groupBy(F.col("l_user_id").alias("user_a"),
                 F.col("r_user_id").alias("user_b"))
        .agg(F.count(F.lit(1)).alias("n_overlaps"),
             F.sum("overlap_us").cast("long").alias("overlap_us"))
    )
    return agg.crossJoin(F.broadcast(audit))


# --------------------------------------------------------------------------
# q_ts_holt — Holt double-exponential smoothing (level + trend)
# --------------------------------------------------------------------------

# α (level) / β (trend) as decimal literals both engines parse to the same
# nearest double; never computed as 1 − α (would still be exact here, but
# literal symmetry keeps the op-order audit trivial).
_HOLT_ORACLE = """
    WITH RECURSIVE hourly AS (
        SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS h,
               CAST(COUNT(*) AS DOUBLE) AS x
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    idx AS (
        SELECT event_type, x,
               CAST(row_number() OVER (PARTITION BY event_type ORDER BY h)
                    AS BIGINT) AS i,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM hourly),
    r AS (
        -- series-key joins are NULL-SAFE (r12): a NULL event_type is a
        -- legitimate series Spark's groupBy keeps; a plain = join would
        -- silently drop it from the recursion
        SELECT i1.event_type, CAST(1 AS BIGINT) AS i, i1.n,
               i1.x AS l, i2.x - i1.x AS b
        FROM idx i1 JOIN idx i2
          ON i1.event_type IS NOT DISTINCT FROM i2.event_type
         AND i1.i = 1 AND i2.i = 2
        UNION ALL
        SELECT r.event_type, r.i + 1, r.n,
               0.4 * nx.x + 0.6 * (r.l + r.b) AS l,
               0.3 * ((0.4 * nx.x + 0.6 * (r.l + r.b)) - r.l) + 0.7 * r.b
                   AS b
        FROM r JOIN idx nx
          ON nx.event_type IS NOT DISTINCT FROM r.event_type
         AND nx.i = r.i + 1)
    SELECT event_type, n AS n_hours, round(l, 6) + 0.0 AS level,
           round(b, 6) + 0.0 AS trend, round(l + b, 6) + 0.0 AS forecast_next
    FROM r WHERE i = n
"""


@query(
    "q_ts_holt",
    oracle=_HOLT_ORACLE,
    tags=("timeseries", "recursive"),
)
def q_ts_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend smoothing per series (α=0.4, β=0.3): the
    TWO-state recursive smoother (lᵢ = αxᵢ + (1−α)(lᵢ₋₁+bᵢ₋₁);
    bᵢ = β(lᵢ−lᵢ₋₁) + (1−β)bᵢ₋₁) over hourly event counts, plus the
    one-step forecast l+b. Extends q_ts_ewma's single-state fold to a
    STRUCT accumulator — the shape every multi-state recurrence
    (Holt-Winters, Kalman-lite, drawdown) reuses.

    DETERMINISM: series values are exact BIGINT counts cast to double;
    both engines fold the identically-ordered series with the identical
    literal-coefficient op chain (Spark `aggregate` HOF with a
    named_struct accumulator ≡ DuckDB recursive CTE carrying (l, b)), so
    every intermediate double is bit-identical; emitted 6dp. The oracle's
    trend term re-states the new-level expression inline — same ops, same
    order, same bits.

    Scale shape: one partial-agged hourly rollup, then ONE shuffle to
    collect each bounded series (sort_array gives fold order without a
    window sort); per-series state is O(series length). Unbounded series
    stream through the IMPLEMENTED streaming twin (streaming/smooth.py
    `smooth_stateful` with beta set, r10) carrying (l, b) as O(1)
    state — restart-verified against this fold in
    tests/test_streaming.py.

    NULL CONTRACT (r12): a NULL-ts event is not a tick — it has no hour
    on the series axis and is excluded on both sides (its null-h group
    would otherwise fold at the engines' differing null sort position,
    corrupting the whole recurrence — the batch twin of the streaming
    smoother's poison-order guard).
    """
    from ..api import holt_smooth

    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    # the fold itself is api.holt_smooth — "the q_ts_holt algorithm,
    # reusable" bound back to its registry query (r8 review: the inline
    # copy had already drifted from the library once before)
    sm = holt_smooth(hourly, ["event_type"], "h", "x",
                     alpha=0.4, beta=0.3)
    return sm.select(
        "event_type", F.col("n_points").alias("n_hours"),
        # + 0.0 on both sides for EVERY emitted component: level is not
        # monotone-positive either (r8 review — a collapsing series
        # drives it negative, and a tiny-negative rounds to -0.0 in
        # DuckDB but +0.0 in Spark, the documented sign-bit rule)
        (F.round(F.col("level"), 6) + F.lit(0.0)).alias("level"),
        (F.round(F.col("trend"), 6) + F.lit(0.0)).alias("trend"),
        (F.round(F.col("forecast_next"), 6)
         + F.lit(0.0)).alias("forecast_next"),
    )


# --------------------------------------------------------------------------
# q_events_paths — top user-journey prefixes
# --------------------------------------------------------------------------

_PATHS_ORACLE = """
    WITH r AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
        WHERE ts IS NOT NULL),
    p AS (
        SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        FROM r WHERE rn <= 5 GROUP BY user_id)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM p GROUP BY path ORDER BY n_users DESC, path LIMIT 20
"""


@query(
    "q_events_paths",
    oracle=_PATHS_ORACLE,
    tags=("events", "sequence"),
)
def q_events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user-journey prefixes: each user's first five event types in
    (ts, event_id) order joined into a '>' path, ranked by how many users
    share it. Sequence mining's simplest member — the whole-prefix view
    next to q_events_markov's pairwise transition matrix.

    DETERMINISM: order fully tie-broken by (ts, event_id); the top-20 cut
    tie-broken by (n_users DESC, path).

    Scale shape: one user-keyed window sort (shared prefix-filter),
    per-user path built by sort_array on bounded (rn ≤ 5) structs — no
    second sort; the path table partial-aggregates into the final count,
    and the cut is a TakeOrderedAndProject heap, never a global sort.

    NULL CONTRACT (r12): a NULL-ts event has no position in the journey
    — excluded on both sides (Spark's NULLS-FIRST default would
    otherwise seat it in the first-5 prefix, DuckDB's NULLS LAST would
    not).
    """
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = e.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    p = r.groupBy("user_id").agg(
        F.array_join(
            F.expr("transform(sort_array(collect_list(struct(rn, "
                   "event_type))), s -> s.event_type)"),
            ">",
        ).alias("path")
    )
    return (
        p.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q_ts_changepoint — exact-integer CUSUM changepoint per series
# --------------------------------------------------------------------------

_CUSUM_ORACLE = """
    WITH hourly AS (
        SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    tot AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS s
        FROM hourly GROUP BY 1),
    c AS (
        SELECT hourly.event_type, h,
               CAST(SUM(n) OVER (PARTITION BY hourly.event_type ORDER BY h)
                    AS BIGINT) AS cum,
               CAST(row_number() OVER (PARTITION BY hourly.event_type
                                       ORDER BY h) AS BIGINT) AS i,
               k, s
        FROM hourly JOIN tot
          ON hourly.event_type IS NOT DISTINCT FROM tot.event_type),
    d AS (
        SELECT event_type, h, k, s, abs(k * cum - i * s) AS dev,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(k * cum - i * s) DESC, h)
                   AS rn
        FROM c)
    SELECT event_type, h AS cp_hour, CAST(dev AS BIGINT) AS dev_scaled,
           k AS n_hours, s AS n_events
    FROM d WHERE rn = 1
"""


@query(
    "q_ts_changepoint",
    oracle=_CUSUM_ORACLE,
    tags=("timeseries", "anomaly"),
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint estimate per series: the hour where the running
    deviation of hourly counts from the series mean peaks — the offline
    level-shift detector next to q_events_anomaly_zscore's pointwise 3σ
    rule and q_ts_seasonal's profile detrend.

    DETERMINISM: the mean-deviation cumsum is kept as the SCALED integer
    k·Σᵢnⱼ − i·Σn (k = #hours) — the float CUSUM Σ(nⱼ − μ) times k,
    without ever dividing — so the argmax is BIGINT-exact; ties broken by
    earliest hour. |k·cum| ≤ k·S < 2⁶³ comfortably at any realistic
    series length.

    Scale shape: raw events partial-aggregate to the bounded hourly table
    before any shuffle; the per-type totals broadcast back; running sum +
    row_number + the argmax rank share ONE (event_type, h)-sorted window
    exchange (the cumsum pair) plus one rank window on the same
    partitioning. Only the |series|-row table ever sorts.

    NULL CONTRACT (r12): null-ts events are not ticks (excluded both
    sides — the holt/ewma rule); the NULL event_type series is
    legitimate and the totals join is NULL-SAFE so it survives on both
    sides instead of silently dropping.
    """
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    c = (
        hourly.alias("hh").join(
            F.broadcast(tot.select(F.col("event_type").alias("te"),
                                   "k", "s")),
            F.col("hh.event_type").eqNullSafe(F.col("te"))).drop("te")
        .withColumn("cum", F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("i", F.row_number().over(w).cast("long"))
    )
    d = c.withColumn(
        # plain BIGINT products are SAFE here because k is calendar-
        # bounded (hourly buckets: k ≤ ~10⁴) so k·S < 2⁶³ holds per the
        # docstring bound; the GENERIC library twin api.cusum_changepoint
        # hardens with decimal(38,0) instead because its order_col
        # cardinality is unbounded (r8 review cross-reference)
        "dev", F.abs(F.col("k") * F.col("cum") - F.col("i") * F.col("s"))
    )
    rnw = Window.partitionBy("event_type").orderBy(F.desc("dev"), "h")
    return (
        d.withColumn("rn", F.row_number().over(rnw))
        .filter(F.col("rn") == 1)
        .select(
            "event_type", F.col("h").alias("cp_hour"),
            F.col("dev").alias("dev_scaled"),
            F.col("k").alias("n_hours"), F.col("s").alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# q_layout_bucketed_join — pre-bucketed co-located join (zero-exchange read)
# --------------------------------------------------------------------------

_BUCKETS = 8
#: serializes the probe-then-write below (r9 review: the bare
#: tableExists-then-saveAsTable was an unsynchronized check-then-act —
#: two same-session registry threads could both pass the probe and race
#: overwrite writes onto one path; unlike a materialize.shared build, a
#: duplicate write is not harmless garbage, so the probe and the write
#: run under one module lock)
_BUCKETED_LOCK = threading.Lock()


def _bucketed_table(spark: SparkSession, sf_dir: str, table: str,
                    key: str) -> str:
    """Write ``table`` bucketed by ``key`` (once per (session, sf_dir) —
    cheap tableExists probe) and return the catalog name. The write is
    the one-time LAYOUT cost; every subsequent join/agg on ``key`` reads
    the bucket files with their hash-partitioning already satisfied.

    The path (and table name) are keyed by the session's applicationId
    as well as sf_dir: the tableExists probe only guards ONE session's
    catalog, so a shared path would let a concurrent session's
    mode-overwrite delete parquet files this session is mid-scan on
    (bench.py racing the driver verify was the observed hazard)."""
    import hashlib
    import os
    import tempfile

    import atexit
    import shutil

    app = spark.sparkContext.applicationId.replace("-", "_")
    slug = hashlib.md5(f"{sf_dir}|{app}".encode()).hexdigest()[:12]
    name = f"zke_bkt_{table}_{slug}"
    with _BUCKETED_LOCK:
        if not spark.catalog.tableExists(name):
            root = os.path.join(tempfile.gettempdir(), "zke_bucketed", slug)
            path = os.path.join(root, table)
            (load(spark, sf_dir, table)
             .write.bucketBy(_BUCKETS, key).sortBy(key)
             .option("path", path).mode("overwrite")
             .format("parquet").saveAsTable(name))
            # best-effort /tmp hygiene (r9 review: every session wrote
            # two fact-table copies under a fresh slug and NOTHING
            # removed them — repeated bench/driver sessions filled the
            # disk); the layout is session-scoped state, so delete it
            # when the driver process exits.
            atexit.register(shutil.rmtree, root, ignore_errors=True)
    return name


@query(
    "q_layout_bucketed_join",
    oracle="""
        SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(CAST(SUM(CAST(CASE WHEN abs(l_extendedprice) < 9.0e11
                             THEN l_extendedprice END AS DECIMAL(18,4)))
                    AS DECIMAL(30,8)) AS VARCHAR) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey
    """,
    tags=("layout", "join"),
)
def q_layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via PRE-BUCKETED table layout: orders and lineitem
    are written bucketed by the join key (8 buckets, sorted within), then
    the join AND the per-key aggregation run with ZERO exchanges — the
    bucketed scans already satisfy the required hash partitioning. The
    write is a one-time layout cost amortized over every subsequent
    keyed join/agg; this is the query-side complement of q_layout_zorder
    (which optimizes scan pruning, while bucketing optimizes shuffle
    elimination) and the batch analogue of co-partitioned stream state.

    Results are identical to the plain shuffled join (the oracle IS the
    plain join) — only the physical plan changes; the plan test pins the
    exchange-free shape.

    Scale shape: at 100 TB the bucket count scales with data (buckets ≈
    total size / target file size); both fact tables bucketed on the
    same key join machine-locally forever after. Exact-decimal money
    rule for the revenue sum (order-independent), emitted as VARCHAR.
    """
    ot = _bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    lt = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    o = spark.table(ot).select("o_orderkey")
    li = spark.table(lt).select("l_orderkey", "l_extendedprice")
    # merge hint: at test SFs Catalyst would broadcast the small orders
    # side, which hides the layout story (and still costs a broadcast +
    # a post-join agg exchange). The sort-merge join over two co-bucketed
    # scans is the 100 TB plan — zero exchanges end-to-end.
    return (
        o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.when(measure_domain("l_extendedprice"),
                         F.col("l_extendedprice")).cast("decimal(18,4)"))
            .cast("decimal(30,8)").cast("string").alias("revenue"),
        )
    )
