"""Round-4 (fourth wave) pipeline extensions — three diagnostics that
close remaining reporting shapes:

- ``q_ts_autocorr``       per-series autocorrelation at business-relevant
                          lags (1h, 2h, 24h) over the hourly rollup — the
                          seasonality/memory diagnostic in front of any
                          forecasting choice (q_ts_holt assumes trend;
                          this measures whether the assumption holds);
- ``q_events_power_users``  Pareto concentration: per activity decile,
                          user counts, event counts, and exact
                          parts-per-million share — the 'top 10% of users
                          drive X% of events' audit;
- ``q_curate_dedup_rate_by_source``  near-dup drop rate per source from
                          the shared CC labels — the per-provider dedup
                          scorecard a curation pipeline reports.

Registered after pipeline_ext3 (registry import order) so the driver's
budgeted correctness pass certifies earlier backlogs first.

Reference parity note: the reference (zio-kinesis-example) has no batch
surface — this module is north-star surface mandated by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import query
from .exact import SQL_HOURLY_CENTS_MEAN, hourly_cents_mean, measure_domain

# --------------------------------------------------------------------------
# q_ts_autocorr — lag autocorrelation of the hourly mean series
# --------------------------------------------------------------------------
_AC_LAGS = (1, 2, 24)

# The hourly series is CALENDAR-BOUNDED (the fixture's one-month span,
# ≤ ~720 observed points) at every scale factor, so the per-series folds
# are bounded; they still run as ORDERED folds (sort_array / array_agg
# ORDER BY — the chi2 rule) so the float sums associate identically on
# both engines. Lags are TIME-keyed equality joins (h − lag·1h), not
# row-offset lag() (r9 review: the hourly series is SPARSE at small SF —
# at sf0.001 only ~25% of spanned hours exist — so lag(dx, 24) paired an
# hour with whatever row was 24 ROWS back, ~4 days earlier on average,
# and r24 measured nothing about daily seasonality; a missing lagged
# hour now contributes 0 to the numerator, the standard
# sparse-autocorrelation convention this query already used for series
# edges).
_AC_ORACLE = f"""
    WITH hourly AS (
        SELECT event_type,
               CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS h,
               {SQL_HOURLY_CENTS_MEAN} AS x
        FROM events
        WHERE ts IS NOT NULL AND abs(value) < 9.0e11
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               list_reduce(list_prepend(0.0,
                   list_transform(array_agg(x ORDER BY h), v -> v)),
                   (a, v) -> a + v) / COUNT(*) AS mean
        FROM hourly GROUP BY event_type
    ),
    d AS (
        SELECT h.event_type, h.h, h.x - s.mean AS dx
        FROM hourly h JOIN stats s USING (event_type)
    ),
    lagged AS (
        SELECT d.event_type, d.h, d.dx,
               {", ".join(
                   f"d{lg}.dx AS dx{lg}" for lg in _AC_LAGS)}
        FROM d
        {" ".join(
            f"LEFT JOIN d d{lg} ON d{lg}.event_type = d.event_type "
            f"AND d{lg}.h = d.h - INTERVAL {lg} HOUR" for lg in _AC_LAGS)}
    ),
    folded AS (
        SELECT event_type,
               list_reduce(list_prepend(0.0,
                   list_transform(array_agg(dx * dx ORDER BY h), v -> v)),
                   (a, v) -> a + v) AS den,
               {", ".join(
                   "list_reduce(list_prepend(0.0, "
                   f"list_transform(array_agg(CASE WHEN dx{lg} IS NOT NULL "
                   f"THEN dx * dx{lg} ELSE 0.0 END ORDER BY h), v -> v)), "
                   f"(a, v) -> a + v) AS num{lg}" for lg in _AC_LAGS)}
        FROM lagged GROUP BY event_type
    )
    SELECT event_type,
           {", ".join(
               f"round(CASE WHEN den > 0 THEN num{lg} / den ELSE 0.0 END, 6)"
               f" + 0.0 AS r{lg}" for lg in _AC_LAGS)}
    FROM folded
"""


@query("q_ts_autocorr", oracle=_AC_ORACLE, tags=("timeseries", "stats"))
def q_ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each event type's hourly mean-value series at
    lags 1h / 2h / 24h — the memory/seasonality diagnostic (r24 near
    r1 means a daily cycle dominates; all near zero means white noise)
    that decides between q_ts_ewma, q_ts_holt, and q_ts_seasonal.
    Lags are TIME-keyed (h − lag hours), so a sparse series correlates
    each hour with the hour actually 1/2/24 hours earlier — a missing
    lagged hour contributes 0, like the series edges (r9 review: the
    earlier row-offset lag() measured variable, gap-dependent offsets).

    DETERMINISM: hourly means are exact-cent sums + one division
    (q_ts_seasonal's rule); every cross-product fold runs ORDERED by
    hour (sort_array fold ≡ DuckDB array_agg ORDER BY + list_reduce —
    the chi2 rule), so the 6dp ratios agree bit-for-bit. Zero-variance
    series are CASE-guarded; negative zero normalized (+ 0.0).

    Scale shape: the raw table collapses to |types| x |hours| rows in
    ONE partial-agged shuffle; the series length is calendar-bounded
    (≤ ~720 points/month regardless of SF) so the ordered folds and the
    three time-keyed equality self-joins are O(1) per series.

    NULL CONTRACT (r12): null-ts events are not ticks and an hour whose
    every value is NULL is NO observation (the ewma rule) — the tick
    filter keeps the series fold from diverging on the engines' null
    sort order and from collapsing to a whole-series NULL.
    """
    from .materialize import persist

    e = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & measure_domain("value"))
    # r13 opt (guide §2.4 / the q_graph_triangles convention): hourly
    # and d each feed MULTIPLE consumers (stats + d; d + 3 shifted lag
    # copies), and every broadcast-build job re-derived them from the
    # PARQUET SCAN — the before-plan carries 16 Scan parquet nodes (8
    # full events passes) for a series that is |types|×|hours| rows.
    # Tracked persists pin both tiny frames so the raw table is scanned
    # once; the first broadcast job materializes each cache as a side
    # effect (the lazy-cache pattern), released by clear_shared_cache.
    hourly = persist(hourly_cents_mean(e, "x", hour_col="h"))

    def ofold(term):
        return F.expr(
            "aggregate(sort_array(collect_list(struct(h, "
            f"{term} AS t))), 0D, (a, s) -> a + s.t)")

    stats = (hourly.groupBy("event_type")
             .agg((ofold("x") / F.count(F.lit(1))).alias("mean")))
    d = persist(
        hourly.join(F.broadcast(stats), "event_type")
        .select("event_type", "h",
                (F.col("x") - F.col("mean")).alias("dx")))
    # TIME-keyed lags (r9 review — see the oracle comment): a row-offset
    # lag() misaligns on the sparse hourly series; each lag is an exact
    # equality join on (event_type, h − lag·1h) over the tiny frame
    lagged = d
    for lg in _AC_LAGS:
        shifted = d.select(
            "event_type",
            (F.col("h") + F.expr(f"INTERVAL {lg} HOURS")).alias("h"),
            F.col("dx").alias(f"dx{lg}"))
        lagged = lagged.join(shifted, ["event_type", "h"], "left")
    folded = lagged.groupBy("event_type").agg(
        ofold("dx * dx").alias("den"),
        *[ofold(f"CASE WHEN dx{lg} IS NOT NULL THEN dx * dx{lg} "
                "ELSE 0D END").alias(f"num{lg}") for lg in _AC_LAGS],
    )
    return folded.select(
        "event_type",
        *[(F.round(F.when(F.col("den") > 0,
                          F.col(f"num{lg}") / F.col("den"))
                   .otherwise(F.lit(0.0)), 6) + F.lit(0.0)).alias(f"r{lg}")
          for lg in _AC_LAGS],
    )


# --------------------------------------------------------------------------
# q_events_power_users — Pareto concentration by activity decile
# --------------------------------------------------------------------------


@query(
    "q_events_power_users",
    oracle="""
        WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
                   FROM events GROUP BY user_id),
        t AS (SELECT SUM(n_events) AS total FROM c),
        ranked AS (SELECT user_id, n_events,
                          NTILE(10) OVER (ORDER BY n_events DESC, user_id)
                              AS decile
                   FROM c)
        SELECT CAST(decile AS INT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               CAST((SUM(n_events) * 1000000) // t.total AS BIGINT)
                   AS share_ppm
        FROM ranked CROSS JOIN t
        GROUP BY decile, t.total
    """,
    tags=("events", "stats", "reporting"),
)
def q_events_power_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration: users ranked into deciles by event count,
    with each decile's user count, event count, and exact
    parts-per-million share of all events — the Pareto audit ('the top
    decile drives N% of traffic') behind rate limits, bot triage, and
    sampling-weight decisions.

    DETERMINISM: pure integer arithmetic end to end — counts, a
    tie-broken NTILE (count desc, user_id), and integer-ppm shares
    (q_curate_mix_report's rule). No float exists anywhere.

    Scale shape: one user-keyed partial-agged count, then the decile
    window over |users| count rows (not events); the global total rides
    a one-row broadcast. At extreme user counts the exact NTILE swaps
    for approx_percentile rank cuts (same columns, sketch boundaries).
    """
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    t = c.agg(F.sum("n_events").alias("total"))
    ranked = c.withColumn(
        "decile",
        F.ntile(10).over(
            Window.orderBy(F.col("n_events").desc(), F.col("user_id"))),
    )
    return (
        ranked.crossJoin(F.broadcast(t))
        .groupBy("decile", "total")
        .agg(F.count(F.lit(1)).alias("n_users"),
             F.sum("n_events").alias("n_events"))
        .select(
            "decile", "n_users", "n_events",
            # decimal numerator: n_events*1e6 would wrap int64 past
            # ~9.2e12 events/decile while the oracle's HUGEINT is exact
            F.expr("CAST((CAST(n_events AS DECIMAL(38,0)) * 1000000)"
                   " DIV total AS BIGINT)").alias("share_ppm"),
        )
    )


# --------------------------------------------------------------------------
# q_curate_dedup_rate_by_source — per-source near-dup scorecard
# --------------------------------------------------------------------------
# Cluster definition is llm_dedup's SHARED recursive fragment; a document
# is DROPPED when it is not its cluster's representative (cluster_id is
# the minimum reachable doc_id, so representative <=> doc_id=cluster_id).
from .llm_dedup import _DUCK_CLUSTERS_CTE, _DUCK_LABELS_CTE  # noqa: E402

_DEDUP_RATE_ORACLE = _DUCK_CLUSTERS_CTE + _DUCK_LABELS_CTE + """
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN l.doc_id <> l.cluster_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST((SUM(CASE WHEN l.doc_id <> l.cluster_id
                          THEN 1 ELSE 0 END) * 1000000) // COUNT(*)
                AS BIGINT) AS drop_ppm
    FROM labels l JOIN documents d USING (doc_id)
    GROUP BY d.source
"""


@query("q_curate_dedup_rate_by_source", oracle=_DEDUP_RATE_ORACLE,
       tags=("curation", "dedup", "reporting", "north-star"),
       # excluded from the timing loop for q_dedup_cluster_sizes' reason:
       # per-query-cold bench would re-pay the whole CC fixpoint to time
       # a join + rollup; q_dedup_clusters IS the loop's benchmark
       bench=False)
def q_curate_dedup_rate_by_source(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Near-dup drop rate per source: how much of each provider's
    contribution the min-id dedup policy removes (doc kept iff it is
    its cluster's representative) — the per-provider scorecard that
    decides which feeds get renegotiated, re-crawled, or down-weighted.

    DETERMINISM: cluster labels are the hash-verified CC fixpoint;
    everything else is integer counts and integer-ppm shares.

    Scale shape: reuses the SHARED checkpointed label frame (the
    fixpoint runs once per session across the whole cluster family);
    one doc_id join against the documents dimension and one source
    rollup riding partial aggregation.
    """
    from .llm_dedup import q_dedup_clusters

    labels = q_dedup_clusters(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    dropped = F.when(F.col("doc_id") != F.col("cluster_id"), 1).otherwise(0)
    return (
        labels.join(d, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum(dropped).cast("long").alias("n_dropped"))
        .select(
            "source", "n_docs", "n_dropped",
            # decimal numerator (same int64-wrap guard as share_ppm)
            F.expr("CAST((CAST(n_dropped AS DECIMAL(38,0)) * 1000000)"
                   " DIV n_docs AS BIGINT)").alias("drop_ppm"),
        )
    )
