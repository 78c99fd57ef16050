"""session.get_spark: the generated-class cache holds a whole floor pass."""

from __future__ import annotations

from zio_kinesis_example_spark.api import clear_shared_cache
from zio_kinesis_example_spark.registry import all_specs
from zio_kinesis_example_spark.session import CODEGEN_CACHE_MAX_ENTRIES

from .conftest import SF_SMALL

#: the 20 cheap queries of the benchmark's batch-floor workload; together
#: they compile 196 distinct classes, more than Spark's default cache of 100
FLOOR = (
    "q_agg_bitmap_distinct", "q_agg_conditional", "q_agg_mode", "q_agg_stats",
    "q_bitwise_funcs", "q_curate_chunk", "q_dedup_exact", "q_merge_upsert",
    "q_multimodal_phash", "q_multimodal_resize", "q_part_abc", "q_pivot",
    "q_sample_priority", "q_sample_stratified", "q_text_quality",
    "q_text_seqlen_buckets", "q_tpch_q12", "q_tpch_q13", "q_tpch_q15",
    "q_win_range_interval",
)


def _compiled(spark) -> int:
    """Classes Janino has compiled in this JVM (one timing sample each)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_floor_pass_compiles_nothing(spark):
    assert (spark.conf.get("spark.sql.codegen.cache.maxEntries")
            == str(CODEGEN_CACHE_MAX_ENTRIES))
    specs = all_specs()

    def one_pass() -> int:
        before = _compiled(spark)
        for name in FLOOR:
            fn = specs[name].bench_fn or specs[name].fn
            fn(spark, SF_SMALL).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            clear_shared_cache()
        return _compiled(spark) - before

    one_pass()
    assert one_pass() == 0
