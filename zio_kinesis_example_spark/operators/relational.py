"""Relational operator inventory: scans, filters, joins, aggregations,
windows, sort/top-k, set operations, subqueries (SURVEY.md §2.2 rows 1-13).

The reference has no relational operators (SURVEY.md §2.1 "does NOT
implement"); this is the north-star batch surface, built purely from
DataFrame built-ins so Catalyst owns the physical strategy.

Scale stance (100 TB posture):
- Filters/projections are expressed declaratively → parquet pushdown and
  column pruning happen at the scan (verified in tests/test_plans.py).
- Fixed-size dims (nation=25, region=5) are broadcast explicitly; other
  join strategies are left to Catalyst + AQE (dynamic broadcast, skew
  splitting) because the right answer is size-dependent, not code-dependent.
- Aggregations are partial (map-side combine) by construction in Spark's
  hash aggregate; nothing here forces a pre-shuffle.
- The range join keeps an equi-key (partkey) so it executes as a hash join
  with a residual range predicate, never a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from .exact import (
    KNUTH, SQL_MONEY, cents_sum, dec_avg_double, dec_sum_double,
    measure_domain, money_term, sql_dec_sum_double, ts_lit,
)
from .materialize import spread_scan
from ..registry import query

# --------------------------------------------------------------------------
# scans / filters
# --------------------------------------------------------------------------


@query(
    "q_scan_project",
    oracle="SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem",
    tags=("scan",),
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection-only scan; the plan must prune the parquet read to the
    3 selected columns (ReadSchema check in test_plans.py)."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )


@query(
    "q_filter_pred",
    oracle="""
        SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_quantity > 30 AND l_returnflag = 'R'
    """,
    tags=("filter",),
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicate; both conjuncts must reach PushedFilters."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30) & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")


@query(
    "q_filter_in_between",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
          AND o_totalprice BETWEEN 50000 AND 150000
    """,
    tags=("filter",),
)
def q_filter_in_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list + BETWEEN; both pushable to the parquet scan."""
    o = load(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_totalprice").between(50000, 150000)
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


# --------------------------------------------------------------------------
# joins
# --------------------------------------------------------------------------


@query(
    "q_join_inner",
    oracle=f"""
        SELECT c_mktsegment,
               {sql_dec_sum_double("o_totalprice")} AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    tags=("join",),
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join + grouped agg. Strategy (broadcast vs shuffle hash vs
    SMJ) is deliberately left to Catalyst/AQE — customer is broadcastable at
    small SF but shuffle-worthy at 100 TB; AQE picks per-run."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            dec_sum_double("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "q_join_broadcast",
    oracle=f"""
        SELECT p_brand,
               {sql_dec_sum_double("l_quantity")} AS sum_qty,
               {sql_dec_sum_double("l_extendedprice")} AS sum_price,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """,
    tags=("join",),
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hint: part is the dimension side; at 100 TB the
    fact (lineitem) never shuffles for this join — map-side hash lookup."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            dec_sum_double("l_quantity").alias("sum_qty"),
            dec_sum_double("l_extendedprice").alias("sum_price"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_join_left",
    oracle="""
        SELECT c_custkey, c_name,
               CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    tags=("join",),
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders (COUNT of a
    nullable column counts only matches)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "q_join_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers with ≥1 order; no row multiplication, right side
    reduced to its join key before the probe."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "q_join_3way",
    oracle=f"""
        SELECT n_name, r_name,
               CAST(SUM({SQL_MONEY}) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY n_name, r_name
    """,
    tags=("join",),
)
def q_join_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (fact → orders → customer → nation → region).
    nation/region are fixed-size (25/5 rows at every SF) → broadcast
    unconditionally; lineitem⋈orders⋈customer keys left to AQE."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            # money_term: the ONE shared money spelling (r9 review; the
            # (8,4) narrow factor is only needed by q_agg_group's
            # three-factor charge product, not a two-factor sum)
            F.sum(money_term()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q_join_range",
    oracle="""
        SELECT p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               SUM(l_quantity) AS sum_qty
        FROM part JOIN lineitem
          ON p_partkey = l_partkey
         -- BIGINT width (r13): p_size at INT32_MAX makes +10 wrap
         -- (Spark ANSI throws, DuckDB promotes — crash-vs-answer)
         AND l_quantity BETWEEN p_size AND CAST(p_size AS BIGINT) + 10
        GROUP BY p_brand
    """,
    tags=("join",),
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join with an equi-key anchor: executes as a hash join on
    partkey with the BETWEEN as residual condition — never cartesian, so it
    scales with the equi-join, not |part|×|lineitem|."""
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    cond = (p.p_partkey == li.l_partkey) & li.l_quantity.between(
        p.p_size, p.p_size.cast("long") + 10
    )
    return (
        p.join(li, cond)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# aggregations
# --------------------------------------------------------------------------


@query(
    "q_agg_group",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               -- measure-domain guards mirror exact.dec_sum_double /
               -- dec_avg_double (r13): an out-of-(18,4)-domain measure
               -- (1e15 "quantity") contributes NULL, still counts.
               -- Product price casts are DECIMAL(19,4): width 19 forces
               -- DuckDB's INT128 multiply (the INT64 product of an
               -- 18-digit price x discount overflowed); values unchanged.
               CAST(SUM(CAST(CASE WHEN abs(l_quantity) < 9.0e11
                             THEN l_quantity END AS DECIMAL(18, 4)))
                    AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(CASE WHEN abs(l_extendedprice) < 9.0e11
                             THEN l_extendedprice END AS DECIMAL(18, 4)))
                    AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(CASE WHEN abs(l_extendedprice) < 9.0e11
                             THEN l_extendedprice END AS DECIMAL(19, 4))
                        * CAST(1 - l_discount AS DECIMAL(8, 4))) AS DOUBLE)
                   AS sum_disc_price,
               CAST(SUM(CAST(CASE WHEN abs(l_extendedprice) < 9.0e11
                             THEN l_extendedprice END AS DECIMAL(19, 4))
                        * CAST(1 - l_discount AS DECIMAL(8, 4))
                        * CAST(1 + l_tax AS DECIMAL(8, 4))) AS DOUBLE)
                   AS sum_charge,
               (CAST(SUM(CAST(CASE WHEN abs(l_quantity) < 9.0e11
                              THEN l_quantity END AS DECIMAL(18, 4)))
                     AS DOUBLE) / COUNT(*)) AS avg_qty,
               (CAST(SUM(CAST(CASE WHEN abs(l_extendedprice) < 9.0e11
                              THEN l_extendedprice END AS DECIMAL(18, 4)))
                     AS DOUBLE) / COUNT(*)) AS avg_price,
               (CAST(SUM(CAST(CASE WHEN abs(l_discount) < 9.0e11
                              THEN l_discount END AS DECIMAL(18, 4)))
                     AS DOUBLE) / COUNT(*)) AS avg_disc,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "flagship"),
)
def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the flagship query (`entry`).

    Batch analogue of the reference's 'process every record, produce a
    verified aggregate' pattern (FlattenChunksTest.scala:43-59): full scan,
    per-group running aggregates. Partial aggregation (map-side combine)
    means the shuffle carries ≤ |groups|×|partitions| rows at any SF.
    """
    # spread_scan (r13, guide §2.5): the exact-decimal partial
    # aggregation is the heavy stage here (wide decimal products per
    # row) and it runs in the scan stage — single-task on a
    # single-file table. Scale-adaptive: no-op when the scan already
    # parallelizes. Measured interleaved min-of-3: 1.75 → 1.46 s.
    li = spread_scan(load(spark, sf_dir, "lineitem"))
    # EXACT decimal sums emitted as double (operators.exact rule): raw
    # double SUMs reassociate in partition-merge order and diverge from
    # DuckDB once groups reach ~1e7 rows; decimal sums are exact and the
    # one decimal->double conversion is identical on both engines. The
    # (8,4) middle factors keep the three-way charge product inside
    # DECIMAL(38) so no engine re-rounds it.
    disc_price = (F.when(measure_domain("l_extendedprice"),
                         F.col("l_extendedprice")).cast("decimal(18,4)")
                  * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)"))
    charge = disc_price * (F.lit(1) + F.col("l_tax")).cast("decimal(8,4)")
    return (
        li.filter(F.col("l_shipdate") <= ts_lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum_double("l_quantity").alias("sum_qty"),
            dec_sum_double("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            dec_avg_double("l_quantity").alias("avg_qty"),
            dec_avg_double("l_extendedprice").alias("avg_price"),
            dec_avg_double("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q_agg_count_distinct",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY event_type
    """,
    tags=("agg",),
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct per group (expand + two-phase agg under the hood)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _approx_cd_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure HLL plan — what actually ships at 100 TB (and what
    bench.py times): sketch-only aggregation, no exact twin."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.05).alias("approx_users")
    )


@query(
    "q_agg_approx_cd",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
               TRUE AS hll_ok
        FROM events
        GROUP BY event_type
    """,
    tags=("agg", "approx"),
    bench_fn=_approx_cd_plan,
)
def q_agg_approx_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count — the 100 TB path where exact distinct
    would shuffle every key (the sketch is fixed-size and mergeable, so
    the shuffle carries registers, not keys). rsd=0.05.

    The sketch value itself is engine-specific, so the hash-checkable
    contract is an error *bound*: ``hll_ok = |approx − exact| ≤ 3·rsd·exact``
    (three standard errors), which the oracle asserts as a constant TRUE.
    The exact twin exists only to evaluate the bound in the correctness
    harness; bench.py times the sketch-only plan (_approx_cd_plan via
    ``bench_fn``), so the benchmark measures the approx path it claims."""
    e = load(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.05).alias("approx_users"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    bound = F.lit(3 * 0.05) * F.col("n_exact")
    return agg.select(
        "event_type",
        "n_exact",
        (F.abs(F.col("approx_users") - F.col("n_exact")) <= bound)
        .alias("hll_ok"),
    )


@query(
    "q_agg_rollup",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dec_sum_double("l_extendedprice")} AS sum_price,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals; Spark expands grouping sets in one pass.
    Money sums via the exact-decimal rule (r8 review: the grand-total
    group aggregates the WHOLE table — the exact group size where raw
    double sums reassociate apart across engines).

    spread_scan (r13): the grouping-set expansion multiplies every row
    ×3 BEFORE the partial decimal agg, all in the single-task scan
    stage — see q_agg_group."""
    li = spread_scan(load(spark, sf_dir, "lineitem"))
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dec_sum_double("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_cube",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dec_sum_double("l_extendedprice")} AS sum_price,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations; exact-decimal money sums (see
    q_agg_rollup — the ×4 grouping-set expansion makes the spread
    matter most here)."""
    li = spread_scan(load(spark, sf_dir, "lineitem"))
    return li.cube("l_returnflag", "l_linestatus").agg(
        dec_sum_double("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_agg_grouping_sets",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               {sql_dec_sum_double("o_totalprice")} AS sum_price,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    tags=("agg",),
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — SQL-only surface in Spark; uses a temp
    view NAMESPACED as v_gs_orders (a bare 'orders' view would clobber
    catalog.register_views' binding for every later bare-name SQL
    consumer in the session — the sibling convention is v_*/__* names)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_gs_orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               {sql_dec_sum_double("o_totalprice")} AS sum_price,
               COUNT(*) AS n
        FROM v_gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@query(
    "q_agg_having",
    oracle="""
        SELECT o_custkey,
               round(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0,
                     6) AS total_spent,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders
        GROUP BY o_custkey
        HAVING SUM(CAST(round(o_totalprice * 100) AS BIGINT)) > 50000000
    """,
    tags=("agg",),
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING).

    DETERMINISM: the threshold compares the exact BIGINT cent sum, not
    an engine-summed double — a customer whose exact total sits ON the
    500k boundary could otherwise land on opposite sides of the strict
    > in the two engines (row-set corruption, which 9-sig-digit float
    canonicalization cannot absorb); the emitted total is the same cent
    sum divided once."""
    o = load(spark, sf_dir, "orders")
    cents = F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    return (
        o.groupBy("o_custkey")
        .agg(
            F.round(cents / F.lit(100.0), 6).alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
            cents.alias("__cents"),
        )
        .filter(F.col("__cents") > 50_000_000)
        .drop("__cents")
    )


# --------------------------------------------------------------------------
# window functions
# --------------------------------------------------------------------------


@query(
    "q_win_rank",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               CAST(rank()       OVER w AS BIGINT) AS rnk,
               CAST(dense_rank() OVER w AS BIGINT) AS drnk
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey)
    """,
    tags=("window",),
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking trio per customer; fully tie-broken by o_orderkey so results
    are deterministic. One shuffle on the partition key, sort within."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@query(
    "q_win_lag_lead",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice,
               lag(o_totalprice)  OVER w AS prev_price,
               lead(o_totalprice) OVER w AS next_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate NULLS LAST, o_orderkey)
    """,
    tags=("window",),
)
def q_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag/lead over a deterministic per-customer order.

    NULL ORDERING (r12, pinned): o_orderdate sorts NULLS LAST ascending
    on BOTH sides — Spark defaults NULLS FIRST asc, DuckDB NULLS LAST,
    so unpinned null dates silently shift every lag/lead neighbor."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


@query(
    "q_win_frame",
    oracle="""
        SELECT event_id, user_id, value,
               -- exact DECIMAL frame sum (r9 review): DuckDB's windowed
               -- double SUM associates via segment tree while Spark
               -- re-accumulates frames sequentially — the documented
               -- 1-ulp divergence class; decimal never reassociates
               CAST(SUM(CAST(CASE WHEN abs(value) < 9.0e11 THEN value END AS DECIMAL(18, 4)))
                    OVER (PARTITION BY user_id
                          ORDER BY ts NULLS LAST, event_id
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS moving_sum
        FROM events
    """,
    tags=("window",),
)
def q_win_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving 3-row sum per user (explicit ROWS frame); the frame sum
    runs in exact DECIMAL (see the oracle comment — the
    q_win_range_interval rule).

    NULL ORDERING (r12, pinned): ts sorts NULLS LAST ascending on BOTH
    sides — an unpinned nullable order key shifts which rows share a
    3-row frame between engines."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_last(), "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return e.select(
        "event_id", "user_id", "value",
        F.sum(F.when(measure_domain("value"), F.col("value"))
              .cast("decimal(18,4)")).over(w)
        .cast("double").alias("moving_sum"),
    )


@query(
    "q_win_tumbling_batch",
    oracle="""
        SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS window_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               round(SUM(CAST(round((CASE WHEN abs(value) < 9.0e11 THEN value END) * 100) AS BIGINT)) / 100.0, 6)
                   AS sum_value
        FROM events
        GROUP BY 1
    """,
    tags=("window", "streaming-analogue"),
)
def q_win_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch emulation of a 1-hour tumbling event-time window (the
    streaming version lives in streaming/ with withWatermark; this is the
    oracle-checkable batch equivalent, SURVEY.md §2.2 streaming table).

    DETERMINISM: the hourly sum is an exact BIGINT cent sum (value is
    2dp data) + one division — the q_win_session_batch rule; a raw
    double SUM over groups that grow with SF re-associates differently
    per engine and eventually crosses the 9-sig-digit parity boundary."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            cents_sum("value").alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# sort / top-k, set ops, subquery
# --------------------------------------------------------------------------


@query(
    "q_topk",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    tags=("sort",),
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 orders by price, tie-broken by key. Spark plans
    TakeOrderedAndProject: per-partition heap + driver merge — no global
    sort, O(n) scan at any scale."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "q_union_all",
    oracle="""
        SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    """,
    tags=("setop",),
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union — no shuffle, partitions concatenate."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
    )
    return c.unionAll(s)


@query(
    "q_intersect",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier
    """,
    tags=("setop",),
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (distinct): nations having both customers and
    suppliers."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "q_except",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey FROM supplier
    """,
    tags=("setop",),
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (distinct): nations with customers but no suppliers."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@query(
    "q_subquery_scalar",
    oracle="""
        WITH s AS (SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS tc,
                       CAST(COUNT(*) AS BIGINT) AS n
                   FROM orders)
        SELECT o_orderkey, o_totalprice
        FROM orders, s
        -- HUGEINT product (r13): one in-domain 9e11 price x 1.5e5 rows
        -- pushes cents*n past int64; Spark widens via DECIMAL(38,0)
        WHERE CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)
              * s.n > s.tc
    """,
    tags=("subquery",),
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average price. The scalar aggregate is a
    1-row broadcast (cross join with a singleton), not a driver collect —
    the 100 TB-safe shape for uncorrelated scalar subqueries.

    DETERMINISM: membership is decided by the cross-multiplied integer
    comparison cents·n > Σcents (exact rational form of price > avg) —
    comparing against an engine-summed double average could flip rows
    sitting exactly on the mean. Integer-safe while cents·n < 2^63
    (~5e7 cents × n ≤ 1.8e11 rows)."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    tot = o.agg(
        F.sum(cents).alias("__tc"), F.count(F.lit(1)).alias("__n"))
    return (
        o.crossJoin(F.broadcast(tot))
        # DECIMAL(38,0) product — see the oracle's HUGEINT comment
        .filter(cents.cast("decimal(38,0)") * F.col("__n")
                > F.col("__tc").cast("decimal(38,0)"))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q_case_when",
    oracle=f"""
        SELECT CASE WHEN l_discount >= 0.08 THEN 'high'
                    WHEN l_discount >= 0.04 THEN 'mid'
                    ELSE 'low' END AS disc_tier,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({SQL_MONEY}) AS DOUBLE) AS revenue
        FROM lineitem
        GROUP BY 1
    """,
    tags=("conditional",),
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered classification via CASE WHEN, aggregated per tier."""
    li = load(spark, sf_dir, "lineitem")
    tier = (
        F.when(F.col("l_discount") >= 0.08, "high")
        .when(F.col("l_discount") >= 0.04, "mid")
        .otherwise("low")
        .alias("disc_tier")
    )
    return li.groupBy(tier).agg(
        F.count(F.lit(1)).alias("n"),
        # money_term: the ONE shared money spelling (r9 review)
        F.sum(money_term()).cast("double").alias("revenue"),
    )


@query(
    "q_join_full",
    oracle="""
        WITH big AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_big,
                            round(SUM(o_totalprice), 2) AS sum_big
                     FROM orders WHERE o_totalprice > 300000
                     GROUP BY o_custkey),
             rich AS (SELECT c_custkey, c_name,
                             round(c_acctbal, 2) AS acctbal
                      FROM customer WHERE c_acctbal > 5000)
        SELECT COALESCE(b.o_custkey, r.c_custkey) AS custkey,
               n_big, sum_big, c_name, acctbal
        FROM big b FULL OUTER JOIN rich r ON b.o_custkey = r.c_custkey
    """,
    tags=("join",),
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join with genuinely unmatched rows on BOTH sides
    (big-order customers below the balance cut; rich customers with no
    big orders). Full outer cannot broadcast either side — it shuffles
    both on the key, the honest shape at any scale; null-extension is
    exercised in both directions."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        o.filter(F.col("o_totalprice") > 300000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"),
             F.round(F.sum("o_totalprice"), 2).alias("sum_big"))
    )
    rich = c.filter(F.col("c_acctbal") > 5000).select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal")
    )
    return (
        big.join(rich, big.o_custkey == rich.c_custkey, "full_outer")
        .select(
            F.coalesce("o_custkey", "c_custkey").alias("custkey"),
            "n_big", "sum_big", "c_name", "acctbal",
        )
    )


@query(
    "q_except_all",
    oracle="""
        SELECT user_id, event_type FROM events WHERE value > 0.5
        EXCEPT ALL
        SELECT user_id, event_type FROM events WHERE value > 0.8
    """,
    tags=("setop",),
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference (EXCEPT ALL): duplicates preserved by count
    arithmetic — Spark plans this as a count-aggregated anti-style
    generate, one shuffle, no pairwise work."""
    e = load(spark, sf_dir, "events")
    hi = e.filter("value > 0.5").select("user_id", "event_type")
    very_hi = e.filter("value > 0.8").select("user_id", "event_type")
    return hi.exceptAll(very_hi)


@query(
    "q_intersect_all",
    oracle="""
        SELECT user_id, event_type FROM events WHERE value > 0.3
        INTERSECT ALL
        SELECT user_id, event_type FROM events WHERE value < 0.7
    """,
    tags=("setop",),
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset intersection (INTERSECT ALL): min-of-counts semantics,
    same count-aggregated single-shuffle plan as EXCEPT ALL."""
    e = load(spark, sf_dir, "events")
    a = e.filter("value > 0.3").select("user_id", "event_type")
    b = e.filter("value < 0.7").select("user_id", "event_type")
    return a.intersectAll(b)


@query(
    "q_relational_division",
    oracle="""
        WITH q AS (
            SELECT DISTINCT o_custkey,
                   CAST(date_part('quarter', o_orderdate) AS INT) AS qtr
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        )
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        JOIN (SELECT o_custkey FROM q
              GROUP BY o_custkey HAVING COUNT(*) = 4) f
          ON c_custkey = f.o_custkey
    """,
    tags=("join", "agg", "division"),
)
def q_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (the 'for ALL' quantifier): customers who
    placed an order in EVERY quarter of 1997 — the classic
    division-as-count-equality rewrite (Codd's ÷ has no SQL primitive).

    Scale shape: the naive double-NOT-EXISTS formulation probes the
    divisor per (customer, quarter); this form is one distinct
    (partial-agged) + one 4-row-threshold groupBy + a semi-shaped join —
    two shuffles total, independent of the divisor's size (a divisor
    table would broadcast into the count comparison).
    """
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate")
         >= ts_lit("1997-01-01"))
        & (F.col("o_orderdate")
           < ts_lit("1998-01-01"))
    )
    full = (
        o.select("o_custkey", F.quarter("o_orderdate").alias("qtr"))
        .distinct()
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("nq"))
        .filter(F.col("nq") == 4)
        .select("o_custkey")
    )
    c = load(spark, sf_dir, "customer")
    return (
        c.join(full, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@query(
    "q_agg_mode",
    oracle="""
        SELECT user_id,
               max({'n': n, 'et': event_type}).et AS mode_event_type,
               max({'n': n, 'et': event_type}).n  AS mode_count
        FROM (
            SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM events
            WHERE event_type IS NOT NULL
            GROUP BY user_id, event_type
        )
        GROUP BY user_id
    """,
    tags=("agg", "mode"),
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: each user's most frequent event type.
    Both engines' native ``mode()`` leaves ties undefined, so the mode is
    stated as max over (count, value) structs — lexicographic struct
    ordering makes the tie-break (highest count, then LAST value
    alphabetically) explicit and engine-exact.

    Scale shape: two chained partial-agged aggregations ((user, type)
    counts, then the struct max per user) — the second shuffle carries
    ≤ |users|×|types| rows; no window, no sort.

    NULL CONTRACT (r12, the degenerate-rate sweep): NULL is the ABSENCE
    of a value, not a mode candidate (SQL's native mode() ignores
    nulls; and the engines disagree on struct-max with a null field —
    Spark sorts it smallest, DuckDB largest). Null-typed rows are
    excluded on both sides; a user with only null types has no mode.
    """
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull())
    counts = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = F.max(F.struct(F.col("n"), F.col("event_type").alias("et")))
    return (
        counts.groupBy("user_id")
        .agg(m.alias("m"))
        .select("user_id", F.col("m.et").alias("mode_event_type"),
                F.col("m.n").alias("mode_count"))
    )


@query(
    "q_join_lateral_topk",
    oracle="""
        SELECT c_custkey, c_name, o_orderkey, o_totalprice
        FROM (
            SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
                   row_number() OVER (PARTITION BY c.c_custkey
                                      ORDER BY o.o_totalprice DESC,
                                               o.o_orderkey) AS rn
            FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        ) WHERE rn <= 2
    """,
    tags=("join", "lateral", "topk"),
)
def q_join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL top-k: each customer's two most expensive
    orders, stated as a lateral join with a per-row ORDER BY/LIMIT
    subquery (the SQL `CROSS JOIN LATERAL (... LIMIT k)` shape, Spark
    4's DataFrame.lateralJoin) — declaratively equivalent to the window
    rank-filter the oracle states, and Catalyst decorrelates it into
    exactly that join + per-key rank plan rather than executing a
    per-customer probe.

    DETERMINISM: the k-cut orders stored doubles (no arithmetic) and is
    tie-broken on o_orderkey.

    Scale shape: one shuffle on the correlation key; the limit is
    evaluated as a rank inside the join's partitioning — no per-outer-row
    subquery execution, no driver loop.
    """
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load(spark, sf_dir, "orders")
    sub = (
        o.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    return c.lateralJoin(sub)


@query(
    "q_join_null_safe",
    oracle="""
        WITH l AS (
            SELECT event_id, user_id, nullif(event_type, 'error') AS k
            FROM events
        ),
        d AS (SELECT DISTINCT nullif(event_type, 'error') AS k,
                     COALESCE(nullif(event_type, 'error'), 'unclassified')
                         AS label
              FROM events)
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM l JOIN d ON l.k IS NOT DISTINCT FROM d.k
        GROUP BY label
    """,
    tags=("join", "null"),
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of silently dropping — the semantic that
    separates dimension lookups with 'unknown' buckets from plain `=`
    joins (here: error events get a NULL key and still land in the
    'unclassified' dimension row).

    Scale shape: Spark plans `<=>` as a HASH join (null gets a hash
    slot like any value) — same single shuffle as `=`; beware that ALL
    nulls co-locate in one task, so a null-heavy fact side wants the
    q_join_skew_salted treatment.
    """
    e = load(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("error"))
    l = e.select("event_id", "user_id", k.alias("k"))
    d = (e.select(k.alias("k")).distinct()
         .select("k", F.coalesce("k", F.lit("unclassified")).alias("label")))
    return (
        l.join(d, l["k"].eqNullSafe(d["k"]))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_GRID_CELL = 5       # cell size == radius: neighbors live in 3×3 cells
_GRID_R = 5          # Chebyshev radius
# LOAD-BEARING coupling (r9 review): the half-neighborhood probe set
# only covers ±1-cell offsets, which is complete ONLY while cell ≥
# radius — tuning one constant without the other would silently drop
# qualifying pairs that span 2 cells on an axis.
assert _GRID_CELL >= _GRID_R, "grid probe set requires cell >= radius"
_GRID_KX = KNUTH  # shared constant (exact.py); derivation comment below
_GRID_KY = 1540483477


@query(
    "q_join_grid_neighbors",
    oracle=f"""
        WITH pts AS (
            SELECT o_orderkey AS id,
                   ((o_orderkey % 10000) * {_GRID_KX % 10000}) % 10000 AS x,
                   ((o_custkey % 10000) * {_GRID_KY % 10000}) % 10000 AS y
            FROM orders
        )
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(greatest(abs(a.x - b.x), abs(a.y - b.y)) AS BIGINT)
                   AS cheb_dist
        FROM pts a JOIN pts b
          ON b.x BETWEEN a.x - {_GRID_R} AND a.x + {_GRID_R}
         AND b.y BETWEEN a.y - {_GRID_R} AND a.y + {_GRID_R}
         AND a.id < b.id
    """,
    tags=("join", "spatial", "grid"),
)
def q_join_grid_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed neighbor join: all point pairs within Chebyshev
    distance r on a derived 2D plane — the spatial/blocked-similarity
    join shape (and the query-side complement of q_layout_zorder's
    storage clustering). One side probes its HALF-neighborhood (5 of the
    9 neighbor cells) and the pair search becomes a hash EQUI-join on
    cell id with the exact distance as residual — never a quadratic
    cross join.

    Pair uniqueness: cell size == radius ⇒ every qualifying pair's cells
    differ by at most 1 in each axis; for distinct cells exactly ONE of
    the offsets {(1,0),(0,1),(1,1),(1,-1)} maps one cell onto the other,
    and same-cell pairs keep the id_a < id_b guard — so each unordered
    pair is emitted exactly once and the output only renormalizes ids to
    id_a < id_b (no dedup exchange). The ORACLE is a brute-force range
    self-join over the same points (an independent algorithm — DuckDB
    plans it as an IEJoin), so the hash certifies the grid algebra.

    Scale shape: shuffle keyed on cell id, fan-out fixed at 5×, residual
    evaluated inside the join; cost ∝ Σ|cell|² over occupied cells
    (the honest blocked-join bound), never |points|².
    """
    o = load(spark, sf_dir, "orders")
    # keys reduced mod 10^4 BEFORE the multiply — (a·b) mod m ==
    # ((a mod m)·(b mod m)) mod m, so the coordinates are identical for
    # every key, but the direct product overflows int64 (a hard ANSI
    # error) for keys above ~3.47e9, inside the claimed 100 TB domain
    pts = o.select(
        F.col("o_orderkey").alias("id"),
        ((F.col("o_orderkey") % 10000) * (_GRID_KX % 10000) % 10000)
        .alias("x"),
        ((F.col("o_custkey") % 10000) * (_GRID_KY % 10000) % 10000)
        .alias("y"),
    )
    # r13 opt (guide §2.5 input skew): the probe side's explode + BHJ
    # probe + residual run in the SCAN stage (the broadcast join adds
    # no exchange), and a single-file table scans as ONE task — the
    # whole pair search was serialized onto one core (measured 0.78 s
    # single-task stage; 1.52 s → 0.75 s for the query after the
    # spread, results identical). SCALE-ADAPTIVE: only repartition
    # when the scan under-parallelizes — at 100 TB the table has
    # thousands of splits and this branch never fires, so the probe
    # side stays shuffle-free. (r14, ADVICE r13: use the one shared
    # spread_scan instead of an inline re-implementation of its guard.)
    apts = spread_scan(pts)
    # HALF-neighborhood probe: instead of exploding to all 9 neighbor
    # cells, probe only {(0,0), (1,0), (0,1), (1,1), (1,-1)} — every
    # unordered neighbor-cell pair is covered by exactly ONE forward
    # offset, so cross-cell pairs dedup by cell direction (no id
    # ordering needed) and only same-cell probes keep the id_a < id_b
    # guard. Shuffle volume drops 9→5 rows per point (measured ~1.6×
    # on the end-to-end query); output pairs are re-normalized to
    # id_a < id_b afterwards, so results are identical.
    a = apts.select(
        F.col("id").alias("id_a"), F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.explode(F.expr(
            f"transform(array(struct(0 AS dx, 0 AS dy), "
            f"struct(1 AS dx, 0 AS dy), struct(0 AS dx, 1 AS dy), "
            f"struct(1 AS dx, 1 AS dy), struct(1 AS dx, -1 AS dy)), "
            f"o -> struct(x DIV {_GRID_CELL} + o.dx AS cx, "
            f"y DIV {_GRID_CELL} + o.dy AS cy, "
            f"o.dx = 0 AND o.dy = 0 AS same_cell))"
        )).alias("cell"),
    ).select("id_a", "xa", "ya", "cell.cx", "cell.cy", "cell.same_cell")
    b = pts.select(
        F.col("id").alias("id_b"), F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.expr(f"x DIV {_GRID_CELL}").alias("cx"),
        F.expr(f"y DIV {_GRID_CELL}").alias("cy"),
    )
    return (
        a.join(b, ["cx", "cy"])
        # no id_a != id_b conjunct: a self-pair can only arise via the
        # (0,0) same-cell probe, where id_a < id_b already rejects it;
        # cross-cell probes join a point's cell+offset to a DIFFERENT
        # cell, so the same point can never meet itself there
        .filter(
            (~F.col("same_cell") | (F.col("id_a") < F.col("id_b")))
            & (F.abs(F.col("xa") - F.col("xb")) <= _GRID_R)
            & (F.abs(F.col("ya") - F.col("yb")) <= _GRID_R)
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.greatest(F.abs(F.col("xa") - F.col("xb")),
                       F.abs(F.col("ya") - F.col("yb")))
            .cast("long").alias("cheb_dist"),
        )
    )
