"""Round-14 optimization invariants.

Each test pins a PLAN-SHAPE or cost-model property an r14 optimization
(or ADVICE-r13 fix) established; measurements live in
OPTIMIZATION_r14.md. Values are covered by the oracle parity suite —
these only guard against silent regressions of the structural fixes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zio_kinesis_example_spark.operators.materialize import spread_scan


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")


def test_spread_scan_never_executes_an_adaptive_plan(spark):
    """ADVICE r13 (medium): on an AQE-wrapped frame (any upstream
    exchange/subquery) spread_scan must be a NO-OP decided from static
    plan info — a .rdd probe there forces getFinalPhysicalPlan(),
    eagerly running every upstream shuffle stage at plan-BUILD time
    without reuse by the real query. Pin both halves: same object back,
    and the adaptive plan still unexecuted (isFinalPlan=false)."""
    a = spark.range(100).select(F.col("id").alias("k"))
    b = spark.range(100).select(F.col("id").alias("k"))
    joined = a.join(b, "k").groupBy((F.col("k") % 10).alias("g")).count()
    out = spread_scan(joined)
    assert out is joined
    plan = _explain(out)
    assert "AdaptiveSparkPlan" in plan  # the hazard case was exercised
    assert "isFinalPlan=false" in plan  # ...and nothing was executed


def test_largestar_round_algebra(spark):
    """r14 large-star rewrite: with every stored edge (u, v) satisfying
    u > v, one round's output {(u, m(v))} (m(v) = min down-neighbor of
    v, else v) must equal the classic union + closed-neighborhood-min +
    filter formulation — on a graph with chains, hubs, and isolated
    big-ends."""
    edges = [(9, 1), (9, 5), (5, 2), (4, 2), (3, 1), (2, 1), (8, 7),
             (7, 6), (11, 10)]
    e = spark.createDataFrame(edges, "u long, v long")
    nbrs = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lmins = nbrs.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m"))
    old = (
        nbrs.join(lmins, "u").filter(F.col("v") > F.col("u"))
        .select(F.greatest("v", "m").alias("u"),
                F.least("v", "m").alias("v")).distinct())
    dmin = e.groupBy("u").agg(F.min("v").alias("m"))
    new = (
        e.join(dmin.select(F.col("u").alias("v"), "m"), "v", "left")
        .select("u", F.coalesce("m", F.col("v")).alias("v")).distinct())
    assert sorted(map(tuple, old.collect())) == \
        sorted(map(tuple, new.collect()))


def test_pagerank_round_joins_halved(spark):
    """r14 pagerank rewrite: outdeg rides the cached edge list
    (edges_deg), so the 5-round optimized plan carries exactly ONE
    logical Join per round — the old shape's extra pr-deg join per
    round (10 Join nodes total) is gone."""
    import re

    from zio_kinesis_example_spark.api import clear_shared_cache
    from zio_kinesis_example_spark.operators.analytics import _PR_ITERS
    from zio_kinesis_example_spark.registry import all_specs

    df = all_specs()["q_graph_pagerank"].fn(spark, "/root/testdata/sf0.001")
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert len(re.findall(r"\bJoin\b", plan)) == _PR_ITERS
    finally:
        clear_shared_cache()


def test_persist_if_big_fires_only_above_floor(spark, monkeypatch):
    """r14 conditional persist (VERDICT r13 #2): below the size floor
    the events-family plans carry NO InMemoryRelation (the local bench
    path is byte-identical to r13); with the floor forced to 1 byte
    every multi-consumer frame persists and the plan reads caches."""
    from zio_kinesis_example_spark.api import clear_shared_cache
    from zio_kinesis_example_spark.operators import materialize
    from zio_kinesis_example_spark.registry import all_specs

    sf = "/root/testdata/sf0.001"
    fn = all_specs()["q_funnel"].fn
    plan_default = fn(spark, sf)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "InMemoryRelation" not in plan_default
    try:
        with monkeypatch.context() as m:
            m.setattr(materialize, "PERSIST_MIN_INPUT_BYTES", 1)
            plan_forced = fn(spark, sf)._jdf.queryExecution() \
                .optimizedPlan().toString()
            assert "InMemoryRelation" in plan_forced
            # values are persist-invariant
            a = sorted(map(tuple, fn(spark, sf).collect()))
            clear_shared_cache()
        b = sorted(map(tuple, fn(spark, sf).collect()))
        assert a == b
    finally:
        clear_shared_cache()


def test_unknown_size_estimate_never_persists(spark):
    """A frame with no size statistics (a local relation, an RDD-backed
    frame) reports the spark.sql.defaultSizeInBytes sentinel
    (Long.MaxValue): that is UNKNOWN, not big, so the ref-conditional
    persist in mix_drift_chi2 must not fire — and the values equal a
    direct chi-square computation."""
    from zio_kinesis_example_spark import api

    mix = {0: {"a": 10, "b": 10, "c": 10}, 1: {"a": 25, "b": 3, "c": 2},
           2: {"a": 5, "b": 5}, 3: {"c": 20}}
    rows = [(g, c) for g, cs in mix.items() for c, n in cs.items()
            for _ in range(n)]
    df = spark.createDataFrame(rows, "g long, c string")
    try:
        out = api.mix_drift_chi2(df, "g", "c")
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan
        got = {r.g: (r.n_rows, r.n_classes, r.chi2, r.drifted)
               for r in out.collect()}
    finally:
        api.clear_shared_cache()
    ct = {c: sum(cs.get(c, 0) for cs in mix.values()) for c in "abc"}
    tot = len(rows)
    for g, cs in mix.items():
        gt = sum(cs.values())
        chi2 = 0.0
        for c in sorted(ct):
            e = float(gt * ct[c]) / tot
            chi2 += ((cs.get(c, 0) - e) * (cs.get(c, 0) - e)) / e
        n_rows, n_classes, got_chi2, drifted = got[g]
        assert (n_rows, n_classes, drifted) == (gt, 3, chi2 > 9.487729)
        assert got_chi2 == pytest.approx(chi2, abs=1e-6)


def test_shuffle_partitions_falls_back_on_non_numeric_conf(spark):
    """ADVICE r13 (low): a non-integer spark.sql.shuffle.partitions
    (e.g. "auto" under a platform's auto-optimized shuffle) must fall
    back to defaultParallelism instead of raising ValueError. Vanilla
    Spark validates the conf as an int at set-time, so the non-numeric
    case is exercised through a stub session."""
    from zio_kinesis_example_spark.api import _shuffle_partitions

    assert _shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions"))

    class _Conf:
        def get(self, k):
            return "auto"

    class _Stub:
        conf = _Conf()
        sparkContext = spark.sparkContext

    assert _shuffle_partitions(_Stub()) == \
        spark.sparkContext.defaultParallelism
