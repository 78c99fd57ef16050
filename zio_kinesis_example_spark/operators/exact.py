"""Shared exact-arithmetic emission helpers (ONE definition each).

The repo's determinism rule for float outputs that feed a rounded
emission or a hash compare: never let a raw double SUM reassociate in
partition order — sum an EXACT representation (int64 cents or DECIMAL)
and convert to double once, so both engines emit identical bits at any
scale factor. These helpers existed as four-plus verbatim copies across
operator modules before round 6 centralized them (the drift class the
curation/codec refactors also closed). The module also holds the
measure-domain and tick filters those sums assume; persist and
scan-spread helpers live in materialize.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Knuth's multiplicative-hash constant (2^32 / phi). Shared by the
#: deterministic-draw helpers in advanced.py (_knuth_draw) and the grid
#: cell hash in relational.py — with the 16-bit-split mod-2^32 product
#: trick documented at those sites keeping every term ANSI-int64-safe.
KNUTH = 2654435761


def cents_sum(col: str = "value", dp: int = 6) -> Column:
    """Exact-cents sum of a 2dp money column, emitted as a rounded
    double: int64 cent sums are associative (identical in any partition
    order), and the /100.0 + round are single IEEE ops both engines
    perform identically. The shared spelling of the expression formerly
    copy-pasted by q_win_tumbling/session/sliding_batch and
    q_join_skew_salted.

    MEASURE DOMAIN (r13 numeric-stress sweep): the summand is guarded
    by :func:`measure_domain` — a NaN/±inf/out-of-domain value used to
    detonate the BIGINT cast (Spark ANSI CAST_OVERFLOW vs DuckDB
    ConversionException: crash-vs-crash, with neither engine producing
    the group); now it contributes NULL (skipped by SUM, still counted
    by the caller's COUNT(*)), so a poison measure costs its own cell,
    never the group. Oracles state the identical guard via
    :func:`sql_cents_sum`. No-op on clean fixtures."""
    v = F.when(measure_domain(col), F.col(col))
    return F.round(
        F.sum(F.round(v * 100).cast("long")) / F.lit(100.0), dp)


def sql_cents_sum(col: str = "value", dp: int = 6) -> str:
    """DuckDB twin of :func:`cents_sum` (domain-guarded cents sum)."""
    return (f"round(SUM(CAST(round((CASE WHEN abs({col}) < 9.0e11 "
            f"THEN {col} END) * 100) AS BIGINT)) / 100.0, {dp})")


def ts_lit(day: str) -> Column:
    """Midnight TIMESTAMP_NTZ literal for a 'YYYY-MM-DD' day string —
    ONE definition of the date-literal idiom (r8 review: five inline
    spellings across relational/analytics/tpch risked drifting if the
    timezone/type policy ever changes)."""
    return F.lit(day + " 00:00:00").cast("timestamp_ntz")


def dec_sum_double(col: str, dp: int = 4) -> Column:
    """Exact DECIMAL(18,4) sum of a ≤4dp numeric column, emitted as
    DOUBLE: the decimal sum is exact (never reassociates), and the one
    decimal→double conversion is correctly rounded from the same exact
    rational on both engines — bit-identical at any group size, unlike
    a raw double SUM whose partition-merge order diverges across
    engines once groups reach ~1e7 rows (the 9-significant-digit
    canonicalization boundary).

    MEASURE DOMAIN (r13): the summand is guarded by
    :func:`measure_domain` — a NaN/inf/1e15 "money" value used to blow
    the (18,4) cast on both engines; it now contributes NULL (skipped,
    like a NULL value always was) and costs its own cell."""
    return F.sum(F.when(measure_domain(col), F.col(col))
                 .cast(f"decimal(18,{dp})")).cast("double")


def sql_dec_sum_double(col: str) -> str:
    """DuckDB twin of :func:`dec_sum_double`."""
    return (f"CAST(SUM(CAST(CASE WHEN abs({col}) < 9.0e11 THEN {col} END"
            f" AS DECIMAL(18, 4))) AS DOUBLE)")


def dec_avg_double(col: str, dp: int = 4) -> Column:
    """Exact-sum average emitted as DOUBLE: decimal sum (exact), cast
    to double, ONE division by the group count — both engines compute
    the identical dividend and divisor. Measure-domain-guarded like
    :func:`dec_sum_double` (an out-of-domain value contributes NULL to
    the sum but still counts, exactly as a NULL value always did)."""
    return (F.sum(F.when(measure_domain(col), F.col(col))
                  .cast(f"decimal(18,{dp})")).cast("double")
            / F.count(F.lit(1)))


def sql_dec_avg_double(col: str) -> str:
    """DuckDB twin of :func:`dec_avg_double`."""
    return (f"(CAST(SUM(CAST(CASE WHEN abs({col}) < 9.0e11 THEN {col} END"
            f" AS DECIMAL(18, 4))) AS DOUBLE) / COUNT(*))")

def money_term(col: str = "l_extendedprice"):
    """Exact per-row revenue term: price × (1 − discount), both factors
    DECIMAL so the product never reassociates in floats — ONE definition
    (r8 review: tpch_suite, analytics q3/q5, and q_part_abc each spelled
    it inline; the SQL twin is SQL_MONEY). Measure-domain-guarded (r13):
    past 2^53/10^4 the double→decimal conversion itself is
    engine-defined (see MEASURE_ABS_MAX), so an out-of-domain price
    contributes NULL revenue — its own cell, never the rollup."""
    return (F.when(measure_domain(col), F.col(col)).cast("decimal(18,4)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)"))


def rev_str(expr) -> Column:
    """Exact decimal revenue sum rendered as the canonical string both
    engines print identically (q_tpch_q3's emission rule; SQL twin
    SQL_REV)."""
    return F.sum(expr).cast("decimal(30,8)").cast("string")


#: SQL-side twins of money_term / rev_str. The price cast is
#: DECIMAL(19,4) on the DuckDB side ONLY (r13 numeric-stress sweep):
#: width 19 forces INT128 storage, because DuckDB 1.0 multiplies two
#: INT64-stored decimals in INT64 and a (18,4) precision-edge price ×
#: discount overflows it (Spark's BigDecimal path never does). The
#: VALUE is identical — (19,4) holds every (18,4) money exactly — and
#: the emission casts ((30,8)→VARCHAR / →DOUBLE) agree bit-for-bit.
SQL_MONEY = ("CAST(CASE WHEN abs(l_extendedprice) < 9.0e11 "
             "THEN l_extendedprice END AS DECIMAL(19, 4)) "
             "* CAST(1 - l_discount AS DECIMAL(8, 4))")
SQL_REV = f"CAST(CAST(SUM({SQL_MONEY}) AS DECIMAL(30, 8)) AS VARCHAR)"

def hourly_cents_mean_e6(e, out_col: str, hour_col: str = "bucket_hour"):
    """Per-(event_type, hour) mean of a 2dp non-negative ``value``
    column as EXACT BIGINT micro-units (value·10⁶), rounded half-up by
    integer arithmetic: e6 = (2·Σcents·10⁴ + n) DIV (2·n).

    WHY integers all the way (r12 null-stress sweep): the old
    double-division form svc/(100·n) is a FINITE-DECIMAL rational —
    whenever n has only 2·5 factors its 7th decimal digit can be
    exactly 5, and round(x, 6) then TIES: Spark's BigDecimal HALF_UP
    rounded 66.4371875 → .437188 while DuckDB emitted .437187 (found
    at sf0.1 with 32-row hours). Integer half-up division has no tie
    ambiguity and ``e6/1e6`` is the same double on both engines.

    Callers must pre-filter the TICK CONTRACT themselves (ts and value
    non-null — see SQL_TICK_FILTER): n counts MEASURED values, so an
    hour with no measurable value produces no tick instead of a NULL
    that poisons whole-series folds. SQL twin:
    SQL_HOURLY_CENTS_MEAN_E6."""
    return (
        e.groupBy("event_type",
                  F.date_trunc("hour", F.col("ts")).alias(hour_col))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("__svc"),
             F.count(F.lit(1)).alias("__cv"))
        .select("event_type", hour_col,
                F.expr("(2 * __svc * 10000 + __cv) DIV (2 * __cv)")
                .cast("long").alias(out_col))
    )


def hourly_cents_mean(e, out_col: str, hour_col: str = "bucket_hour"):
    """Tie-free double view of :func:`hourly_cents_mean_e6` (e6/10⁶ —
    one exact-integer-to-double division, identical on both engines).
    Shared by q_ts_interpolate and q_ts_autocorr (r8 review: the block
    was copied verbatim between the two module pairs)."""
    h = hourly_cents_mean_e6(e, "__e6", hour_col=hour_col)
    return h.select("event_type", hour_col,
                    (F.col("__e6") / F.lit(1_000_000.0)).alias(out_col))


#: DuckDB twins (SELECT-list fragments; callers add aliases/filters/
#: GROUP BY). The tick filter belongs in the caller's WHERE.
SQL_HOURLY_CENTS_MEAN_E6 = (
    "(2 * SUM(CAST(round(value * 100) AS BIGINT)) * 10000 + COUNT(value)) "
    "// (2 * COUNT(value))")
SQL_HOURLY_CENTS_MEAN = (
    f"CAST({SQL_HOURLY_CENTS_MEAN_E6} AS DOUBLE) / 1000000.0")

# ---------------------------------------------------------------------------
# the measure-domain contract (r13 numeric-extremes axis)
# ---------------------------------------------------------------------------

#: The engine's declared measure domain: |v| < 2^53/10^4 ≈ 9.007e11,
#: rounded down to the readable 9.0e11 — the EXACTNESS boundary of a
#: 4dp measure carried in a DOUBLE column. Below it, v·10^4 is an exact
#: int64-sized integer, so double→DECIMAL(p,4) conversion has ONE
#: correct answer and both engines produce it (and every exact-integer
#: cents/e6 path fits comfortably in int64). Above it the conversion
#: itself is ENGINE-DEFINED — measured on the r13 numeric proxy:
#: casting the double 99999999999999.984375, DuckDB scales by 10^4 in
#: floating point and emits .9872 while Spark converts via the shortest
#: decimal repr and emits .9800 — so "the same number" silently stops
#: being the same money on the two engines. A NaN, ±inf, max-double, or
#: 10^15 "quantity" is likewise NOT a measurement at this precision.
#: All of these are upstream data errors, and — mirroring the embedding
#: validity contract (llm_similarity._valid_emb) and the tick contract
#: above — an out-of-domain measure costs its OWN row/cell, never the
#: group, the series, or the query. The predicate is ONE comparison
#: that excludes NaN and ±inf on BOTH engines (they fail `abs(v) <
#: 9.0e11` identically in Spark and DuckDB; NULL fails it too) while
#: keeping every in-domain extreme the numeric-stress axis injects:
#: -0.0, subnormals, negative money, int32-boundary counts, the
#: in-domain precision edge 899999999999.9844.
MEASURE_ABS_MAX = 9.0e11


def measure_domain(col: str = "value") -> Column:
    """Spark predicate: the measure is a usable number (non-null,
    finite, inside the declared DECIMAL(18,4) domain). SQL twin:
    :data:`SQL_MEASURE_DOMAIN` / ``sql_measure_domain(col)``."""
    return F.abs(F.col(col)) < F.lit(MEASURE_ABS_MAX)


def sql_measure_domain(col: str = "value") -> str:
    """DuckDB twin of :func:`measure_domain`."""
    return f"abs({col}) < 9.0e11"


SQL_MEASURE_DOMAIN = sql_measure_domain("value")

#: The TICK contract (r12) + the measure domain (r13): an event is a
#: tick only when its clock exists and its measure is in-domain.
SQL_TICK_FILTER = f"ts IS NOT NULL AND {SQL_MEASURE_DOMAIN}"


def tick_filter() -> Column:
    """Spark twin of :data:`SQL_TICK_FILTER` (ts non-null + measure
    in-domain; the in-domain check subsumes value-non-null)."""
    return F.col("ts").isNotNull() & measure_domain("value")

