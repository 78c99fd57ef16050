"""Multi-join decision-support analytics (TPC-H-shaped, adapted to the
testdata's column subset — the schema lacks shippriority/returnflag dates,
so predicates use the columns that exist; shapes and join graphs match the
canonical queries).

The reference computes nothing relational (SURVEY.md §2.1 "does NOT
implement"); these are [north-star] coverage extending the q_tpch_q6 /
q_agg_group (Q1) pair already registered (BASELINE.json north_star).

Scale stance: the join graphs are declared, not scheduled — Catalyst
reorders and AQE picks broadcast vs shuffle per actual size. The fixed
dims (region=5, nation=25) are broadcast explicitly; customer/orders/
lineitem join on their keys with partial aggregation after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import query
from .exact import SQL_MONEY, SQL_REV, money_term, rev_str, ts_lit


@query(
    "q_tpch_q3",
    oracle=f"""
        SELECT l_orderkey,
               {SQL_REV} AS revenue,
               o_orderdate,
               o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY SUM({SQL_MONEY}) DESC,
                 l_orderkey
        LIMIT 10
    """,
    tags=("join", "agg", "tpch"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): unshipped-revenue top-10 for one
    market segment — filter → 3-way join → group → top-k.

    Scale shape: the segment filter reaches the customer scan (pushdown)
    and kills ~4/5 of that side before the join; orders/lineitem join on
    orderkey with their date filters pushed likewise. The top-10 is
    TakeOrderedAndProject (per-partition heaps + driver merge of 10-row
    heads), never a global sort. Ties broken on l_orderkey so the
    selected set is deterministic, and revenue is summed in EXACT decimal
    (q_decimal_agg's money rule) so the top-10 cut is engine-independent —
    a double sum's reduction order can flip near-tied ranks.
    """
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate")
        < ts_lit("1998-01-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate")
        > ts_lit("1998-01-01")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(money_term()).cast("decimal(30,8)").alias("rev_dec"))
        .orderBy(F.col("rev_dec").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.col("rev_dec").cast("string").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


@query(
    "q_tpch_q5",
    oracle=f"""
        SELECT n_name,
               {SQL_REV} AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
    """,
    tags=("join", "agg", "tpch"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue by nation where customer
    and supplier share the nation, one region, one order year — the
    6-table join-graph stress test.

    Scale shape: region(5)⋈nation(25) collapses to a ≤25-row broadcast
    filter on s_nationkey; the c_nationkey = s_nationkey condition rides
    the lineitem⋈supplier hash join as an equi-key with the customer side,
    so no join in the graph is ever cartesian. The final aggregate has 25
    groups — partial aggregation makes the last shuffle negligible.
    """
    asian_nations = (
        load(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                load(spark, sf_dir, "region").filter(
                    F.col("r_name") == "ASIA"
                )
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate")
         >= ts_lit("1996-01-01"))
        & (F.col("o_orderdate")
           < ts_lit("1997-01-01"))
    )
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(asian_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(rev_str(money_term()).alias("revenue"))
    )


_PR_SCALE = 1_000_000_000
_PR_ITERS = 5


def _pagerank_oracle() -> str:
    ctes = [f"""
        edges AS (
            SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
            FROM lineitem
            UNION
            SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
            FROM lineitem
        ),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
                FROM edges GROUP BY src),
        pr0 AS (SELECT src AS node, CAST({_PR_SCALE} AS BIGINT) AS pr
                FROM deg)"""]
    for i in range(1, _PR_ITERS + 1):
        ctes.append(f"""
        pr{i} AS (
            SELECT e.dst AS node,
                   CAST({_PR_SCALE * 15 // 100}
                        + (85 * SUM(p.pr // d.outdeg)) // 100
                        AS BIGINT) AS pr
            FROM edges e
            JOIN pr{i - 1} p ON e.src = p.node
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
        )""")
    return (
        "WITH" + ",".join(ctes)
        + f"""
        SELECT node, CAST(node % 2 AS INT) AS is_supplier, pr
        FROM pr{_PR_ITERS}"""
    )


@query(
    "q_graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "iterative"),
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite part↔supplier supply graph (edges =
    distinct lineitem (partkey, suppkey) pairs, symmetrized), the second
    iterative-algorithm showcase next to q_dedup_clusters' connected
    components.

    DETERMINISM: the power iteration runs in scaled-integer arithmetic
    (rank × 1e9 as BIGINT; contributions use integer division) — float
    PageRank sums in engine-dependent order and can flip low digits,
    integer PageRank is bit-exact everywhere, so the oracle (the same
    {iters} iterations unrolled as chained CTEs) hash-matches exactly.

    Scale shape (BSP, same posture as connected components): edges and
    degrees are computed once and cached; each iteration is one
    co-partitioned join + partial aggregation on dst. Rank mass fits
    BIGINT while 85·Σpr < 2^63 — at ~10^8+ nodes drop SCALE to 1e6.
    The 5-iteration unroll is the fixed-depth variant; production runs
    to a fixpoint with lineage truncation (see llm_dedup cc loop).

    r13 optimization (guide §2.4/§2.6 — remove per-round barriers): the
    fixed-depth unroll needs NO per-round action, so the five rounds
    chain LAZILY into one plan over the cached edges/deg frames and the
    whole query is a single job. The old shape paid a broadcast-build
    job + a cache materialization per round (33 jobs at sf0.1, most of
    the wall in scheduling); this one lets AQE pick the rank-side join
    strategy per round at runtime (broadcast locally; SMJ/SHJ on a
    cluster where |nodes| outgrows the threshold — the strategy is no
    longer hard-coded into the plan). Each round references the
    previous round exactly once, so lineage stays linear and nothing is
    recomputed; edges/deg are tracked persists (materialize.persist),
    released by clear_shared_cache() or the registry's oldest-first cap
    instead of an eager end-of-query checkpoint job. Measured interleaved min-of-4
    at sf0.1: 3.98 s → 3.45 s, jobs 33 → ~14 (AQE stages), results
    hash-identical.

    SINGLE-ACTION CONTRACT (r14, ADVICE r13): the returned frame stays
    lineage-dependent on the tracked persists; the "edges scanned
    once" property holds for any actions taken while those caches
    live. A ``clear_shared_cache()`` (or a cap eviction) between
    caller actions recomputes the 5-round chain from the parquet scan —
    values stay correct, only the single-scan guarantee resets. The
    bench/oracle drivers take exactly one action per build, which is
    the intended shape; a multi-action caller that clears caches
    in between should ``localCheckpoint()`` the result itself.
    """
    from .materialize import persist

    li = load(spark, sf_dir, "lineitem")
    # ONE distinct after the union (not one per direction): both
    # directions ride a single exchange — measured 4× cheaper than
    # dedup-then-mirror, which pays the distinct shuffle twice or forces
    # an extra materialization.
    edges = persist(
        li.select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        ).unionByName(
            li.select(
                (F.col("l_suppkey") * 2 + 1).alias("src"),
                (F.col("l_partkey") * 2).alias("dst"),
            )
        ).distinct()
    )
    deg = persist(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")))
    # r14 (guide §2.4 — one join per round instead of two): outdeg is a
    # per-src constant, so attach it to the edge list ONCE and cache
    # the result; each round then joins pr against edges_deg alone
    # (rate = pr DIV outdeg computed on the joined row — the identical
    # multiset of (dst, rate) terms, so every round's sum is unchanged
    # bit-for-bit). The old shape paid a pr⋈deg shuffle join per round
    # on top of the edges⋈rates one — 10 round-joins; now 5.
    edges_deg = persist(edges.join(deg, "src"))
    pr = deg.select(F.col("src").alias("node"),
                    F.lit(_PR_SCALE).cast("long").alias("pr"))
    base = _PR_SCALE * 15 // 100
    for _ in range(_PR_ITERS):
        pr = (
            edges_deg.join(pr, edges_deg.src == pr.node)
            .select("dst", F.expr("pr DIV outdeg").alias("rate"))
            .groupBy(F.col("dst").alias("node"))
            .agg((F.lit(base) + F.expr("(85 * sum(rate)) DIV 100"))
                 .alias("pr"))
        )
    return pr.select(
        "node", (F.col("node") % 2).cast("int").alias("is_supplier"), "pr"
    )


@query(
    "q_tpch_q18",
    oracle="""
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               SUM(l_quantity) AS sum_qty
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(l_quantity) > 200)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    tags=("join", "agg", "tpch"),
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds a threshold, with their customers — the group-HAVING
    semi-join shape.

    Scale shape: the HAVING subquery is a partial-aggregated groupBy of
    lineitem that collapses to one row per qualifying order — Spark
    executes the IN as a left-semi hash join against that shrunken set,
    so lineitem is never self-joined row-to-row. Quantities are
    integer-valued doubles (< 2^53), so the sums are exact and the
    top-100 cut (tie-broken on o_orderkey) is engine-independent.
    TakeOrderedAndProject keeps the limit off a global sort.
    """
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 200)
        .select("l_orderkey")
    )
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"),
               "o_orderkey", "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@query(
    "q_sql_multi_cte",
    oracle="""
        WITH daily AS (
            SELECT CAST(time_bucket(INTERVAL 1 MONTH, o_orderdate) AS TIMESTAMP) AS m,
                   CAST(time_bucket(INTERVAL 1 DAY, o_orderdate) AS TIMESTAMP) AS d,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2)))
                        AS DECIMAL(30, 2)) AS rev
            FROM orders GROUP BY 1, 2
        ),
        ranked AS (
            SELECT m, d, rev,
                   row_number() OVER (PARTITION BY m
                                      ORDER BY rev DESC, d) AS rn
            FROM daily
        )
        SELECT m AS month, d AS best_day,
               CAST(rev AS VARCHAR) AS best_day_revenue
        FROM ranked WHERE rn = 1
    """,
    tags=("sql", "cte", "window"),
)
def q_sql_multi_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL surface parity: the best revenue day of every month,
    stated entirely as ``spark.sql`` over registered views (CTE chain +
    window + exact-decimal aggregation) — proving the engine's SQL entry
    point compiles to the same plans as the DataFrame API used
    everywhere else (Catalyst sees one logical plan either way).

    Scale shape identical to the DataFrame formulation: partial-agged
    daily rollup, one month-keyed window over the bounded daily table.
    """
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    # Spark-side SQL keeps date_trunc (Spark has no time_bucket; the
    # ORACLE uses time_bucket for the DuckDB 1.0.0 null-mask workaround
    # — Spark's date_trunc propagates nulls correctly)
    return spark.sql("""
        WITH daily AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   date_trunc('day', o_orderdate) AS d,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2)))
                        AS DECIMAL(30, 2)) AS rev
            FROM v_orders GROUP BY 1, 2
        ),
        ranked AS (
            SELECT m, d, rev,
                   row_number() OVER (PARTITION BY m
                                      ORDER BY rev DESC, d) AS rn
            FROM daily
        )
        SELECT m AS month, d AS best_day,
               CAST(rev AS STRING) AS best_day_revenue
        FROM ranked WHERE rn = 1
    """)


@query(
    "q_orders_rfm",
    oracle="""
        WITH mx AS (SELECT MAX(o_orderdate) AS now FROM orders),
        base AS (
            SELECT o_custkey AS c_custkey,
                   CAST(datediff('day', MAX(o_orderdate),
                                 MAX(mx.now)) AS BIGINT) AS recency_days,
                   CAST(COUNT(*) AS BIGINT) AS frequency,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2)))
                        AS DECIMAL(30, 2)) AS monetary
            FROM orders, mx
            GROUP BY o_custkey
        )
        SELECT c_custkey, recency_days, frequency,
               CAST(monetary AS VARCHAR) AS monetary,
               CAST(r_q AS INT) AS r_score,
               CAST(f_q AS INT) AS f_score,
               CAST(m_q AS INT) AS m_score
        FROM (
            SELECT *,
                   ntile(5) OVER (ORDER BY recency_days NULLS LAST,
                                  c_custkey) AS r_q,
                   ntile(5) OVER (ORDER BY frequency DESC, c_custkey) AS f_q,
                   ntile(5) OVER (ORDER BY monetary DESC NULLS LAST,
                                  c_custkey) AS m_q
            FROM base)
    """,
    tags=("analytics", "rfm", "window"),
)
def q_orders_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer Recency / Frequency / Monetary
    stats plus quintile scores (1 = best) — the classic customer-value
    composite, exercising anchored date arithmetic + exact-decimal money
    + three deterministic ntile windows in one query.

    DETERMINISM: 'now' is the data's own max date (no wall clock);
    monetary is exact decimal; every ntile ordering is fully tie-broken
    on c_custkey, so quintile boundaries are engine-exact.

    NULL ORDERING (r12, pinned): a customer whose every order is
    undated has NULL recency (= no known recent activity → LEAST
    recent: NULLS LAST ascending), and one whose every price is null
    has NULL monetary (→ lowest value: NULLS LAST descending) — stated
    explicitly on both sides because the engines' ascending defaults
    disagree.

    Scale shape: one partial-agged groupBy; the three ntiles are global
    windows over the |customers| aggregate — at 100 TB replace with
    approx-percentile bucket JOINS (same outputs, no single-partition
    sort; documented tradeoff).
    """
    o = load(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("now"))
    base = (
        o.crossJoin(F.broadcast(mx))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(F.max("now"), F.max("o_orderdate"))
            .cast("long").alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(30,2)").alias("monetary"),
        )
    )
    wr = Window.orderBy(F.col("recency_days").asc_nulls_last(),
                        "c_custkey")
    wf = Window.orderBy(F.col("frequency").desc(), "c_custkey")
    wm = Window.orderBy(F.col("monetary").desc_nulls_last(), "c_custkey")
    return base.select(
        "c_custkey", "recency_days", "frequency",
        F.col("monetary").cast("string").alias("monetary"),
        F.ntile(5).over(wr).cast("int").alias("r_score"),
        F.ntile(5).over(wf).cast("int").alias("f_score"),
        F.ntile(5).over(wm).cast("int").alias("m_score"),
    )


@query(
    "q_part_abc",
    oracle=f"""
        WITH rev AS (
            SELECT l_partkey,
                   CAST(SUM({SQL_MONEY}) AS DECIMAL(30, 8)) AS rev
            FROM lineitem GROUP BY l_partkey
        ),
        tot AS (SELECT CAST(SUM(rev) AS DECIMAL(38, 8)) AS t FROM rev),
        c AS (
            SELECT l_partkey, rev,
                   CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey)
                        AS DECIMAL(38, 8)) AS cum
            FROM rev
        )
        SELECT l_partkey, CAST(rev AS VARCHAR) AS revenue,
               CASE WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.8
                         THEN 'A'
                    WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.95
                         THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM c, tot
    """,
    tags=("analytics", "pareto", "window"),
)
def q_part_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: parts ranked by revenue, classed A
    (first 80% of cumulative revenue), B (to 95%), C (tail) — the
    inventory-concentration view next to q_agg_gini's coefficient.

    DETERMINISM: revenue and its cumulative sum are exact decimal over a
    fully tie-broken order; each share is ONE double division, so the
    80/95 cuts agree bit-for-bit.

    Scale shape: per-part partial-agged rollup, then one global ordered
    window over the |parts| aggregate (bounded — parts, not lineitems);
    the total rides as a one-row broadcast.
    """
    li = load(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_partkey")
        .agg(F.sum(money_term()).cast("decimal(30,8)").alias("rev"))
    )
    tot = rev.agg(F.sum("rev").cast("decimal(38,8)").alias("t"))
    w = (Window.orderBy(F.col("rev").desc(), "l_partkey")
         .rowsBetween(Window.unboundedPreceding, 0))
    share = F.col("cum").cast("double") / F.col("t").cast("double")
    return (
        rev.withColumn("cum", F.sum("rev").over(w).cast("decimal(38,8)"))
        .crossJoin(F.broadcast(tot))
        .select(
            "l_partkey", F.col("rev").cast("string").alias("revenue"),
            F.when(share <= 0.8, "A").when(share <= 0.95, "B")
            .otherwise("C").alias("abc_class"),
        )
    )


_BASKET_MIN_SUPPORT = 3  # pair must co-occur in ≥ this many orders


@query(
    "q_basket_affinity",
    oracle=f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
                  AS n_orders FROM items),
        supp AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s
                 FROM items GROUP BY l_partkey),
        pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS together
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
        )
        SELECT part_a, part_b, together,
               round(CAST(together AS DOUBLE) * n.n_orders
                     / (sa.s * sb.s), 6) AS lift
        FROM pairs
        JOIN supp sa ON sa.l_partkey = part_a
        JOIN supp sb ON sb.l_partkey = part_b
        CROSS JOIN n
    """,
    tags=("analytics", "basket", "join"),
)
def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-purchased in ≥ 3 orders with
    their LIFT (P(ab)/(P(a)·P(b)) — >1 means genuinely associated, not
    just both popular) — the association-rule primitive behind
    recommendations, computed by the order-keyed self-join of DISTINCT
    basket items.

    DETERMINISM: all counts exact; lift is integer products and one
    double division, rounded 6dp.

    Scale shape: ONE orderkey shuffle builds each basket's sorted
    distinct item set (collect_set dedups map-side), the pair fan-out
    runs inside whole-stage codegen (JVM higher-order functions — no
    self-join, no distinct's extra exchange), and the pair count
    partial-aggregates into the only other shuffle. Cost is the same
    Σ|basket|² a self-join pays (baskets are ~4 items, so linear in
    practice) minus two exchanges; supports broadcast back.
    """
    from ..api import cooccurrence_pairs

    li = load(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    supp = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    pairs = (
        cooccurrence_pairs(li, "l_orderkey", "l_partkey",
                           min_support=_BASKET_MIN_SUPPORT)
        .withColumnsRenamed({"item_a": "part_a", "item_b": "part_b"})
    )
    sa = supp.select(F.col("l_partkey").alias("part_a"),
                     F.col("s").alias("sa"))
    sb = supp.select(F.col("l_partkey").alias("part_b"),
                     F.col("s").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a", "part_b", "together",
            F.round(F.col("together").cast("double") * F.col("n_orders")
                    / (F.col("sa") * F.col("sb")), 6).alias("lift"),
        )
    )


@query(
    "q_supplier_reliability",
    oracle="""
        WITH s AS (
            SELECT l_suppkey,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(CASE WHEN l_shipdate > o_orderdate
                                      + INTERVAL 30 DAY
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY l_suppkey
        )
        SELECT l_suppkey, n_items, n_late,
               round(CAST(n_late AS DOUBLE) / n_items, 6) AS late_rate,
               round((CAST(n_late AS DOUBLE) / n_items + 1.96 * 1.96
                      / (2 * n_items)
                      - 1.96 * sqrt((CAST(n_late AS DOUBLE) / n_items)
                                    * (1 - CAST(n_late AS DOUBLE) / n_items)
                                    / n_items
                                    + 1.96 * 1.96
                                      / (4.0 * n_items * n_items)))
                     / (1 + 1.96 * 1.96 / n_items), 6) AS wilson_lower
        FROM s
    """,
    tags=("analytics", "stats", "ranking"),
)
def q_supplier_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier late-shipment rate with its Wilson-score LOWER bound —
    the uncertainty-aware proportion ranking (a 1/1 late record must not
    outrank 95/100): sort dashboards by wilson_lower, not the raw rate.

    DETERMINISM: counts exact; both emitted statistics are fixed chains
    of IEEE ops on exact-integer-derived doubles, written in the
    IDENTICAL association on both sides, rounded 6dp.

    Scale shape: one orderkey-keyed join (the lateness residual rides
    it) + one partial-agged supplier rollup; the Wilson arithmetic is
    stateless per group row.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    s = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("n_late"),
        )
    )
    p = F.col("n_late").cast("double") / F.col("n_items")
    z = 1.96
    n_ = F.col("n_items")
    wilson = ((p + z * z / (2 * n_)
               - z * F.sqrt(p * (1 - p) / n_
                            + z * z / (4.0 * n_ * n_)))
              / (1 + z * z / n_))
    return s.select(
        "l_suppkey", "n_items", "n_late",
        F.round(p, 6).alias("late_rate"),
        F.round(wilson, 6).alias("wilson_lower"),
    )
