"""Event-stream analytics: SCD2 interval reconstruction, funnel
conversion, retention cohorts.

The reference consumes an event stream but computes only a global count
(FlattenChunksTest.scala:43-59); these are the [north-star] warehouse
analyses that stream's landed history supports (BASELINE.json
north_star). All are single-pass window/aggregate shapes — no
self-joins over the raw table beyond the stage-anchored funnel joins,
whose anchor sides are per-user aggregates (tiny).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import query
from .materialize import persist


@query(
    "q_scd2_intervals",
    oracle="""
        SELECT event_id, user_id, event_type, ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               (lead(ts) OVER w IS NULL) AS is_current
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("events", "cdc", "window"),
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) reconstruction: each user event
    becomes a validity interval [ts, next-event ts), open-ended for the
    latest — the standard change-log → dimension-history transform.

    Scale shape: ONE shuffle on user_id and one ordered scan (lead);
    ties broken on event_id so interval boundaries are deterministic.

    NULL CONTRACT (r12): a change record with NULL ts has no place in
    the validity chain — excluded on both sides (unpinned, the engines'
    differing null sort position flips which real event is "current").
    """
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "event_id", "user_id", "event_type",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# Shared funnel-stage CTE (strictly-ordered view->click->purchase first
# occurrences) — reused by q_events_time_to_convert's oracle so both
# queries agree on what "converted" means.
_DUCK_FUNNEL_CTE = """
        WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
                   WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, MIN(e.ts) AS t2
              FROM events e JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts > v.t1
              GROUP BY e.user_id),
        p AS (SELECT e.user_id, MIN(e.ts) AS t3
              FROM events e JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts > c.t2
              GROUP BY e.user_id)"""


def funnel_stage_times(spark: SparkSession, sf_dir: str):
    """ONE definition of the view->click->purchase funnel's per-user
    stage anchor times (t1/t2/t3 frames): a user CONVERTS a stage when
    the stage event strictly follows their anchor for the previous
    stage; anchors are per-user minima. Shared by q_funnel and
    q_events_time_to_convert (pipeline_ext3) so the Spark-side
    'converted' population can never silently diverge between the two
    (their oracles already share _DUCK_FUNNEL_CTE).

    r14 (VERDICT r13 #2 — the events re-scan family): the stage chain
    logically re-reads the fact table 3x and the anchor frames v/c up
    to 3x/2x more across the two consumers. Below the size floor the
    redundant parallel scans are cheaper than persist barriers (the
    r13 measured regression); above it every frame here is
    size-conditionally persisted, so the executed plan scans the fact
    table ONCE and every reuse is an InMemoryTableScan."""
    raw = load(spark, sf_dir, "events")
    e = persist(
        raw.select("user_id", "event_type", "ts"), ref=raw)
    v = persist(
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1")), ref=raw)
    c = persist(
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2")), ref=raw)
    p = persist(
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3")), ref=raw)
    return v, c, p


@query(
    "q_funnel",
    oracle=_DUCK_FUNNEL_CTE + """
        SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
               CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_after,
               CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_after
    """,
    tags=("events", "funnel"),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase, strictly
    later stages only): users entering each stage AFTER completing the
    previous one.

    Scale shape: each stage anchor is a per-user MIN aggregate (partial,
    one shuffle on user_id) and every join is user-keyed against that
    shrunken anchor — the raw table is scanned once per stage, never
    self-joined row-to-row. All three stage frames share the user_id
    partitioning, so AQE reuses the exchange layout downstream.
    """
    v, c, p = funnel_stage_times(spark, sf_dir)
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after")))
    )


@query(
    "q_retention_cohorts",
    oracle="""
        WITH first_day AS (
            SELECT user_id,
                   CAST(time_bucket(INTERVAL 1 DAY, MIN(ts)) AS TIMESTAMP) AS cohort_day
            FROM events GROUP BY user_id),
        active AS (
            SELECT DISTINCT e.user_id,
                   f.cohort_day,
                   date_diff('day', f.cohort_day,
                             CAST(time_bucket(INTERVAL 1 DAY, e.ts) AS TIMESTAMP))
                       AS day_offset
            FROM events e JOIN first_day f ON e.user_id = f.user_id)
        SELECT cohort_day, CAST(day_offset AS BIGINT) AS day_offset,
               CAST(COUNT(*) AS BIGINT) AS n_active_users
        FROM active
        GROUP BY cohort_day, day_offset
    """,
    tags=("events", "retention"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: users grouped into daily cohorts by first
    activity, counted on each subsequent active day-offset — the
    DAU-retention matrix every product pipeline materializes.

    Scale shape: the cohort anchor is a per-user MIN (one shuffle);
    the activity join is user-keyed on that anchor; the distinct and the
    final count are partial-aggregated. Output is |cohorts| × |offsets|
    (bounded by days², independent of raw volume).
    """
    e = load(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    active = (
        e.join(first_day, "user_id")
        .select(
            "user_id", "cohort_day",
            F.datediff(F.date_trunc("day", "ts"), "cohort_day")
            .cast("long").alias("day_offset"),
        )
        .distinct()
    )
    return (
        active.groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@query(
    "q_events_markov",
    oracle="""
        WITH s AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events
            WHERE ts IS NOT NULL
        )
        SELECT prev, event_type AS next,
               CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM s WHERE prev IS NOT NULL
        GROUP BY prev, event_type
    """,
    tags=("events", "sequence", "markov"),
)
def q_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event
    sequences (view→click, click→purchase, …) — the behavioral-sequence
    statistic behind next-event prediction and anomaly scoring; divide a
    row by its prev-marginal for the transition probability matrix.

    DETERMINISM: the sequence order is fully tie-broken (ts, event_id),
    so every lag pair — and therefore every count — is engine-exact.

    Scale shape: ONE shuffle on user_id for the lag window, then a
    partial-agged count into ≤ |types|² groups; the transition matrix is
    tiny at any corpus size.

    NULL CONTRACT (r12): a NULL-ts event has no sequence position and is
    excluded from the chain on both sides; a NULL event TYPE at a valid
    ts stays — it is a legitimate transition endpoint both engines group
    identically.
    """
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@query(
    "q_events_entropy",
    oracle="""
        WITH c AS (
            SELECT user_id, event_type, COUNT(*) AS n
            FROM events GROUP BY user_id, event_type
        ),
        t AS (SELECT user_id, SUM(n) AS tot FROM c GROUP BY user_id)
        SELECT c.user_id,
               CAST(t.tot AS BIGINT) AS n_events,
               round(-SUM((CAST(c.n AS DOUBLE) / t.tot)
                          * ln(CAST(c.n AS DOUBLE) / t.tot)), 6) + 0.0
                   AS type_entropy
        FROM c JOIN t ON c.user_id = t.user_id
        GROUP BY c.user_id, t.tot
    """,
    tags=("events", "entropy", "agg"),
)
def q_events_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution — the
    behavioral-diversity score (low entropy = bot-like single-action
    users; the same statistic scores vocabulary diversity in corpus
    quality filtering).

    DETERMINISM: p = n/total is an exact-integer division; each p·ln p is
    the same two IEEE ops on both engines and the ≤5-term sum is rounded
    6dp (libm ln agrees to well under 1e-12 here).

    Scale shape: two chained partial-agged aggregations on user_id —
    the second reuses the first's partitioning (no extra exchange);
    output is |users| rows.
    """
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id")
    return (
        c.withColumn("tot", F.sum("n").over(w))
        .withColumn("p", F.col("n").cast("double") / F.col("tot"))
        .groupBy("user_id", "tot")
        .agg((F.round(-F.sum(F.col("p") * F.log("p")), 6)
              + F.lit(0.0))  # -0.0 sign-bit rule
             .alias("type_entropy"))
        .select("user_id", F.col("tot").cast("long").alias("n_events"),
                "type_entropy")
    )


@query(
    "q_events_streaks",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(time_bucket(INTERVAL 1 DAY, ts) AS DATE) AS d
            FROM events
            WHERE ts IS NOT NULL
        ),
        grp AS (
            SELECT user_id, d,
                   CAST(d - CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY d) AS INT) AS DATE)
                       AS anchor
            FROM days
        )
        SELECT user_id,
               CAST(MAX(streak) AS BIGINT) AS longest_streak,
               CAST(COUNT(*) AS BIGINT) AS n_streaks
        FROM (SELECT user_id, anchor, COUNT(*) AS streak
              FROM grp GROUP BY user_id, anchor)
        GROUP BY user_id
    """,
    tags=("events", "window", "gaps-islands"),
)
def q_events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands via the date-minus-row-number anchor (consecutive
    days share one anchor; any gap shifts it), the retention/engagement
    statistic next to q_retention_cohorts.

    Scale shape: distinct (user, day) collapses raw volume first
    (partial-agged); then ONE window sort per user and two chained
    aggregations riding the same user_id partitioning. All date
    arithmetic is exact.

    NULL CONTRACT (r12): activity at a NULL ts has no day to extend a
    streak — excluded on both sides (a null day otherwise shifts every
    row-number anchor by the engines' differing null sort position).
    """
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    days = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.withColumn(
        "anchor", F.date_sub("d", F.row_number().over(w)))
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak"))
    return streaks.groupBy("user_id").agg(
        F.max("streak").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@query(
    "q_events_pattern",
    oracle="""
        WITH s AS (
            SELECT user_id, event_type, ts,
                   last_value(CASE WHEN event_type = 'view' THEN
                       struct_pack(ts := ts, event_id := event_id) END
                       IGNORE NULLS) OVER w AS lv,
                   last_value(CASE WHEN event_type = 'error' THEN
                       struct_pack(ts := ts, event_id := event_id) END
                       IGNORE NULLS) OVER w AS le
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        -- anchors are (ts, event_id) STRUCTS, not bare timestamps
        -- (r9 review): 'no error in between' is a SEQUENCE-position
        -- predicate, and a bare-ts compare misjudged an error sharing
        -- the view's exact microsecond — le < lv is the same tie-broken
        -- lexicographic order the window itself sorts by.
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matches
        FROM s
        WHERE event_type = 'purchase'
          AND lv IS NOT NULL
          AND ts - lv.ts <= INTERVAL 30 MINUTE
          AND (le IS NULL OR le < lv)
        GROUP BY user_id
    """,
    tags=("events", "sequence", "pattern"),
)
def q_events_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching (MATCH_RECOGNIZE-lite): purchases
    preceded by a view within 30 minutes with NO error in between —
    the CEP-style funnel predicate, compiled to ONE ordered scan
    carrying two running anchors (last view ts, last error ts) instead
    of per-pattern self-joins.

    Scale shape: one shuffle on user_id, one window sort shared by both
    anchors; the pattern predicate is a stateless row filter over the
    carried values. An n-step pattern adds n carried columns, never
    n joins. Fully tie-broken order (ts, event_id) keeps anchors exact.
    """
    e = load(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    # (ts, event_id) STRUCT anchors (r9 review): 'no error in between'
    # is a sequence-position predicate — a bare-ts compare misjudged an
    # error sharing the anchoring view's exact microsecond; the struct
    # compares in the window's own tie-broken lexicographic order.
    last_view = F.last(
        F.when(F.col("event_type") == "view",
               F.struct("ts", "event_id")),
        ignorenulls=True).over(w)
    last_error = F.last(
        F.when(F.col("event_type") == "error",
               F.struct("ts", "event_id")),
        ignorenulls=True).over(w)
    return (
        # ONE select for both anchors: separate withColumns leave two
        # Window nodes (CollapseWindow skips them); a single projection
        # plans one Window over one sort (asserted in test_plans).
        e.select("*", last_view.alias("lv"), last_error.alias("le"))
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("lv").isNotNull()
            & (F.col("ts") - F.col("lv.ts")
               <= F.expr("INTERVAL 30 MINUTES"))
            & (F.col("le").isNull() | (F.col("le") < F.col("lv")))
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


@query(
    "q_events_anomaly_zscore",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS h,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n) AS BIGINT) AS s1,
                   CAST(SUM(n * n) AS BIGINT) AS s2
            FROM hourly GROUP BY event_type
        ),
        j AS (
            SELECT h.event_type, h.h, h.n,
                   h.n - CAST(m.s1 AS DOUBLE) / m.k AS dev,
                   (m.s2 - CAST(m.s1 AS DOUBLE) * m.s1 / m.k)
                       / (m.k - 1) AS var
            FROM hourly h JOIN m USING (event_type)
            WHERE m.k > 1
        )
        -- var <= 0 guard (r9 review): a constant series has var 0 and
        -- the engines DIVERGE on 0/0 (Spark ANSI raises DIVIDE_BY_ZERO,
        -- DuckDB yields NULL); a flat series is by definition not
        -- anomalous, so z = 0.0 / not-an-anomaly on BOTH engines. The
        -- <= also absorbs a fractionally-negative var from the s1^2/k
        -- double rounding at extreme counts (sqrt would be NaN vs raise).
        SELECT event_type, h, n,
               round(CASE WHEN var <= 0 THEN 0.0
                          ELSE dev / sqrt(var) END, 6) + 0.0 AS z,
               CASE WHEN var <= 0 THEN FALSE
                    ELSE abs(dev / sqrt(var)) > 3.0 END AS is_anomaly
        FROM j
    """,
    tags=("events", "anomaly", "stats"),
)
def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: z-score of each hour's event count
    against its type's distribution, flagging |z| > 3 — the alerting
    statistic over the hypertable rollup.

    DETERMINISM: moments are EXACT integer sums (k, Σn, Σn²) carried as
    BIGINTs; mean/variance/z derive through the identical explicit op
    chain on both engines (a Welford-style streaming stddev would reduce
    in engine-dependent order — that is why stddev_samp is NOT used
    here). z rounded 6dp; the 3σ flag compares the same doubles.

    Scale shape: hourly rollup = one partial-agged shuffle; the
    per-type moment table is |types| rows broadcast back over the
    bounded hourly table.
    """
    e = load(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    ).filter(F.col("k") > 1)
    mean = F.col("s1").cast("double") / F.col("k")
    var = ((F.col("s2") - F.col("s1").cast("double") * F.col("s1")
            / F.col("k")) / (F.col("k") - 1))
    z_raw = (F.col("n") - mean) / F.sqrt(var)
    # var <= 0 guard (r9 review, mirrors the oracle's CASE): a constant
    # series would otherwise raise DIVIDE_BY_ZERO under ANSI where the
    # oracle yields NULL — a flat series scores z = 0.0, not anomalous.
    z = F.when(var <= F.lit(0.0), F.lit(0.0)).otherwise(z_raw)
    flag = F.when(var <= F.lit(0.0), F.lit(False)) \
        .otherwise(F.abs(z_raw) > 3.0)
    return (
        hourly.join(F.broadcast(m), "event_type")
        .select("event_type", "h", "n",
                # + 0.0: z in (-5e-7, 0) rounds to -0.0 in DuckDB
                (F.round(z, 6) + F.lit(0.0)).alias("z"),
                flag.alias("is_anomaly"))
    )


@query(
    "q_cohort_ltv",
    oracle="""
        WITH dated AS (
            SELECT * FROM orders WHERE o_orderdate IS NOT NULL
        ),
        first_order AS (
            SELECT o_custkey,
                   CAST(time_bucket(INTERVAL 1 MONTH, MIN(o_orderdate)) AS TIMESTAMP)
                       AS cohort
            FROM dated GROUP BY o_custkey
        ),
        monthly AS (
            SELECT f.cohort,
                   CAST(datediff('month', f.cohort,
                        time_bucket(INTERVAL 1 MONTH, o.o_orderdate)) AS BIGINT)
                       AS month_no,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18, 2)))
                        AS DECIMAL(30, 2)) AS rev
            FROM dated o JOIN first_order f ON o.o_custkey = f.o_custkey
            GROUP BY 1, 2
        )
        SELECT cohort, month_no,
               CAST(CAST(SUM(rev) OVER (
                   PARTITION BY cohort ORDER BY month_no) AS DECIMAL(30, 2))
                   AS VARCHAR) AS cum_revenue
        FROM monthly
    """,
    tags=("events", "cohort", "ltv", "window"),
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, cumulative revenue by months-since-acquisition — the LTV
    table every growth dashboard plots (q_retention_cohorts' money
    twin).

    DETERMINISM: revenue in exact decimal end-to-end (the cumulative
    window sums decimals, emitted as strings); month arithmetic is
    exact.

    Scale shape: first-order anchors = one partial-agged groupBy,
    joined back on custkey (one shuffle); the monthly matrix is
    ≤ |cohorts|×|months| rows, so its cumulative window is free.

    NULL CONTRACT (r12): an UNDATED order has no month on the LTV curve
    — excluded on both sides (unfiltered, its NULL month_no group sorts
    before the curve in Spark's cumulative window and after it in
    DuckDB's, shifting every cumulative cell).
    """
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull())
    first = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort"))
    monthly = (
        o.join(first, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(
                F.date_trunc("month", F.col("o_orderdate")), F.col("cohort"))
            .cast("long").alias("month_no"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
             .cast("decimal(30,2)").alias("rev"))
    )
    w = (Window.partitionBy("cohort").orderBy("month_no")
         .rowsBetween(Window.unboundedPreceding, 0))
    return monthly.select(
        "cohort", "month_no",
        F.sum("rev").over(w).cast("decimal(30,2)").cast("string")
        .alias("cum_revenue"),
    )


@query(
    "q_win_running_distinct",
    oracle="""
        SELECT e.event_id, e.user_id, e.ts,
               CAST((SELECT COUNT(DISTINCT e2.event_type)
                     FROM events e2
                     WHERE e2.user_id = e.user_id
                       AND e2.ts IS NOT NULL
                       AND (e2.ts < e.ts
                            OR (e2.ts = e.ts AND e2.event_id <= e.event_id)))
                    AS BIGINT) AS distinct_types_so_far
        FROM events e
        WHERE e.ts IS NOT NULL
    """,
    tags=("events", "window", "distinct"),
)
def q_win_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count per user (how many different event types
    has this user produced so far?) — the engagement-breadth curve.
    Plain windows cannot express distinct aggregation; the set is
    carried as a window ``collect_set`` whose size is read per row.

    The ORACLE states it as the correlated count-distinct subquery
    (an independent quadratic formulation, fine at oracle scale); the
    engine side is one window sort with bounded state — the set is
    ≤ |event types| (5), so the carried state is constant-size (a
    high-cardinality running distinct would switch to the stateful
    streaming operator with a sketch as state).

    Scale shape: ONE shuffle on user_id, one ordered scan; fully
    tie-broken (ts, event_id).

    NULL CONTRACT (r12): "so far" is undefined at a NULL ts — null-ts
    rows neither emit a curve point nor feed other rows' sets, on both
    sides.
    """
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    return e.select(
        "event_id", "user_id", "ts",
        F.size(F.collect_set("event_type").over(w)).cast("long")
        .alias("distinct_types_so_far"),
    )


@query(
    "q_events_dau_wau",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(time_bucket(INTERVAL 1 DAY, ts) AS DATE) AS d
            FROM events
        ),
        days AS (SELECT DISTINCT d FROM ud),
        contrib AS (
            SELECT user_id, CAST(d + CAST(i AS INT) AS DATE) AS cover_day
            FROM ud, unnest(generate_series(0, 6)) AS t(i)
        )
        SELECT CAST(days.d AS TIMESTAMP) AS d,
               CAST((SELECT COUNT(*) FROM ud WHERE ud.d = days.d) AS BIGINT)
                   AS dau,
               CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau,
               round(CAST((SELECT COUNT(*) FROM ud WHERE ud.d = days.d)
                          AS DOUBLE) / COUNT(DISTINCT c.user_id), 6)
                   AS stickiness
        FROM days JOIN contrib c ON c.cover_day = days.d
        GROUP BY days.d
    """,
    tags=("events", "engagement", "distinct"),
)
def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness (DAU÷WAU) per day — the
    engagement dashboard row. Rolling DISTINCT counts can't ride a
    window, so each active (user, day) CONTRIBUTES itself to the 7
    covered days (a bounded ×7 fan-out of the already-distinct pairs)
    and WAU is a plain distinct count per covered day — the standard
    scale-out rewrite of 'COUNT(DISTINCT) OVER RANGE 7 PRECEDING'.

    Only days with actual activity are emitted (the join, not a spine).

    Scale shape: distinct (user, day) collapses raw volume first; the
    fan-out multiplies the BOUNDED pair table, not events; two
    partial-agged aggregations. Exact integers; one division.
    """
    e = load(spark, sf_dir, "events")
    # r14 (VERDICT r13 #2): ud feeds both the DAU aggregate and the ×7
    # fan-out, and dau is consumed twice more — 3 logical passes over
    # the fact table. Size-conditional persists (no-ops below the
    # floor, i.e. at the local bench SFs) collapse that to ONE events
    # scan in the executed plan. Both persists key on the events-scan
    # estimate (ref=e) as the proxy for recompute cost: dau's own output
    # is only |days| rows, but recomputing it is a full pass over ud,
    # itself a pass over events.
    ud = persist(e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct(), ref=e)
    dau = persist(
        ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau")), ref=e)
    contrib = ud.select(
        "user_id",
        F.explode(F.expr("transform(sequence(0, 6), i -> date_add(d, i))"))
        .alias("cover_day"),
    )
    wau = (
        contrib.join(dau.select(F.col("d").alias("cover_day")), "cover_day")
        .groupBy("cover_day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.d == wau.cover_day)
        .select(
            F.col("d").cast("timestamp_ntz").alias("d"), "dau", "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6)
            .alias("stickiness"),
        )
    )


@query(
    "q_events_interarrival",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   epoch_us(ts)
                   - lag(epoch_us(ts)) OVER (
                         PARTITION BY event_type ORDER BY ts, event_id)
                       AS gap_us
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               round(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_us), 6)
                   AS median_gap_us,
               round(percentile_cont(0.99) WITHIN GROUP (ORDER BY gap_us), 6)
                   AS p99_gap_us,
               CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
        FROM g WHERE gap_us IS NOT NULL
        GROUP BY event_type
    """,
    tags=("events", "timeseries", "ops"),
)
def q_events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type (median / p99 /
    max gap MICROSECONDS — median_gap_us / p99_gap_us / max_gap_us;
    r8 review: an earlier header said seconds) — the feed-health
    metric that catches stalled
    producers and bursty sources (the batch twin of monitoring the
    streaming source's silence).

    DETERMINISM: gaps are exact BIGINT MICROsecond differences (whole
    seconds would round vs truncate differently across engines on
    sub-second timestamps) over a fully tie-broken order; exact
    interpolated percentiles, rounded 6dp.

    Scale shape: one shuffle on event_type for the lag window; the
    percentile aggregate rides the same partitioning.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    g = (
        e.select("event_type", ep.alias("ep"),
                 F.lag(ep).over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .select("event_type", (F.col("ep") - F.col("prev")).alias("gap_us"))
    )
    return g.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.percentile("gap_us", F.lit(0.5)), 6).alias("median_gap_us"),
        F.round(F.percentile("gap_us", F.lit(0.99)), 6).alias("p99_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )
