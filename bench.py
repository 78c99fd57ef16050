"""Benchmark harness (driver contract: one JSON line on stdout).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], forcing full execution
through the noop sink (no driver-side collect — we measure the engine, not
the result transfer). Also measures the streaming mirror's throughput
(records/sec) for comparison with the reference's ≈463-575 rec/s baseline
(BASELINE.md). Without $SPARK_GRAFT_CPUS it runs on all of the host's cores.

Output: {"metric": "bench_total_sec", "value": <total>, "unit": "sec",
         "queries": {name: sec, ...}, "sf": <sf>, ...}

The same object is also written whole to BENCH_LOCAL.json next to this
file: stdout capture can clip a long line mid-object (BENCH_r02.json's
"tail" did), the file never does.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def force(df) -> None:
    """Execute the full plan without materializing on the driver."""
    df.write.format("noop").mode("overwrite").save()


def warmup(spark, sf_dir: str) -> None:
    """One small scan+agg+join before timing: pays JVM classloading /
    codegen-compiler warmup once instead of charging it to the
    alphabetically-first query. Compiled classes then stay cached
    (``session.CODEGEN_CACHE_MAX_ENTRIES`` holds every class a registry
    pass generates), so each query's second run reuses its first run's
    classes instead of recompiling what earlier queries evicted."""
    from pyspark.sql import functions as F
    from zio_kinesis_example_spark.catalog import load
    li = load(spark, sf_dir, "lineitem").limit(1000)
    o = load(spark, sf_dir, "orders").limit(1000)
    force(li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag").agg(F.sum("l_quantity")))


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    from zio_kinesis_example_spark.api import clear_shared_cache
    from zio_kinesis_example_spark.registry import all_specs
    times: dict[str, float] = {}
    for name, spec in sorted(all_specs().items()):
        if not spec.bench:
            continue
        # min of 2 runs: the host is a shared VM with CPU-steal spikes;
        # the minimum is the standard de-noised latency estimate
        fn = spec.bench_fn or spec.fn
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            # drop any cache an iterative query left behind AND the
            # dedup family's shared-intermediate registry (signature
            # tables, CC labels): clearing the registry guarantees the
            # next run REBUILDS from scratch (the bench contract is
            # per-query cold) — checkpoint-backed frames are invisible
            # to clearCache, and their blocks free later via GC once
            # the registry drops the reference
            spark.catalog.clearCache()
            clear_shared_cache()
        times[name] = round(best, 3)
    return times


def bench_stream(spark, n_records: int = 100_000, n_shards: int = 32) -> float:
    """Streaming mirror throughput: produce n_records across n_shards
    (reference params, FlattenChunksTest.scala:25-27, unthrottled), consume
    to completion through the EXECUTOR-side path (observe()-counted, noop
    per-batch sink — no driver-side collect anywhere), return records/sec."""
    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, consume_observed, decode_json, shard_source,
    )
    src = tempfile.mkdtemp(prefix="zke-bench-src")
    ckpt = tempfile.mkdtemp(prefix="zke-bench-ckpt")
    try:
        producer = ShardDirProducer(src, n_shards=n_shards, batch_size=500)
        producer.produce_all(n_records)
        valid, _ = decode_json(shard_source(spark, src))
        t0 = time.perf_counter()
        res = consume_observed(valid, ckpt, timeout_s=600)
        dt = time.perf_counter() - t0
        if res.failed or res.processed < n_records:
            return 0.0
        return round(n_records / dt, 1)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def bench_stream_fold_mirror(spark, n_records: int = 100_000,
                             n_shards: int = 32) -> float:
    """Throughput of the TEST-HARNESS MIRROR (consume_count: per-record
    driver-side fold, the reference's single-process processRecord
    semantics) on the same 100k/32-shard run — committed alongside the
    production consume_observed number so the two paths' costs are both
    on record. The observed path is the headline; this one exists to
    quantify what the collect() mirror gives up."""
    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, decode_json, shard_source,
    )
    from zio_kinesis_example_spark.streaming.consume import consume_count
    src = tempfile.mkdtemp(prefix="zke-foldbench-src")
    ckpt = tempfile.mkdtemp(prefix="zke-foldbench-ckpt")
    try:
        producer = ShardDirProducer(src, n_shards=n_shards, batch_size=500)
        producer.produce_all(n_records)
        valid, _ = decode_json(shard_source(spark, src))
        t0 = time.perf_counter()
        res = consume_count(valid, n_records, ckpt, timeout_s=600)
        dt = time.perf_counter() - t0
        if res.failed or res.processed < n_records:
            return 0.0
        return round(n_records / dt, 1)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def bench_stream_with_errors(spark, n_records: int = 100_000,
                             n_shards: int = 32,
                             files_per_trigger: int = 25) -> float:
    """The reference's second evidence log (BASELINE.md row 4,
    chunkedCheckpointing100kWithErrors: ≈175 rec/s): same 100k/32-shard
    run with processing failures injected mid-stream. Each failure aborts
    the query; the harness restarts it from the SAME checkpoint and
    at-least-once redelivery covers the uncommitted epoch. Wall time
    includes every restart, mirroring the reference's e2e measurement."""
    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, consume_observed, decode_json, shard_source,
    )
    src = tempfile.mkdtemp(prefix="zke-errbench-src")
    ckpt = tempfile.mkdtemp(prefix="zke-errbench-ckpt")
    try:
        producer = ShardDirProducer(src, n_shards=n_shards, batch_size=500)
        producer.produce_all(n_records)
        valid, _ = decode_json(
            shard_source(spark, src, max_files_per_trigger=files_per_trigger)
        )
        # three failures spread across the run (the reference log shows
        # repeated mid-run errors + recoveries)
        pending = {n_records // 4, n_records // 2, 3 * n_records // 4}
        t0 = time.perf_counter()
        total = 0
        for _ in range(10):  # bounded restarts
            res = consume_observed(valid, ckpt, fail_on_ids=pending,
                                   timeout_s=600)
            total += res.processed
            if not res.failed:
                break
        else:
            return 0.0
        dt = time.perf_counter() - t0
        if total < n_records:
            return 0.0
        return round(n_records / dt, 1)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    from zio_kinesis_example_spark.session import get_spark

    spark = get_spark(app_name="zke-bench", cpus=cpus)
    warmup(spark, sf_dir)
    t0 = time.perf_counter()
    queries = bench_queries(spark, sf_dir)
    loop_wall = round(time.perf_counter() - t0, 3)
    # headline = sum of per-query best-of-2 latencies (one clean pass);
    # loop_wall_sec is the raw 2x-loop wall time for transparency
    total = round(sum(queries.values()), 3)
    stream_rps = bench_stream(spark)
    stream_rps_err = bench_stream_with_errors(spark)
    stream_rps_fold = bench_stream_fold_mirror(spark)
    spark.stop()

    result = {
        "metric": "bench_total_sec",
        "value": total,
        "loop_wall_sec": loop_wall,
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(queries),
        "stream_records_per_sec": stream_rps,
        "stream_records_per_sec_with_errors": stream_rps_err,
        "stream_records_per_sec_fold_mirror": stream_rps_fold,
        "stream_config": "100k records / 32 shards (reference params); "
                         "headline + with-errors use the production "
                         "executor-side consume_observed path (3 injected "
                         "failures + checkpoint restarts for the errors "
                         "twin); fold_mirror is the driver-side "
                         "consume_count test harness for comparison",
    }
    line = json.dumps(result)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_LOCAL.json"), "w") as f:
        f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
