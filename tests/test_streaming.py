"""Hermetic mirrors of the reference's two integration tests (SURVEY.md §5):

1. flattenChunks (FlattenChunksTest.scala:25-59): produce N JSON records
   ``{"id": i}`` across shards in batches, consume concurrently, assert
   consumed count == produced count.
2. chunk-end checkpointing (CheckpointOnChunksTest + CheckpointOnChunkEnd
   StreamClient.scala:46-73): inject a processing failure mid-stream, the
   query dies, restart from checkpointLocation — assert no record lost
   (every id delivered ≥ once) and bounded re-delivery (at-least-once).

Scaled down from the reference's 100k/32-shard runs for CI time
(SURVEY.md §5 strategy 2), same invariants.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from zio_kinesis_example_spark.streaming import (
    ConsumeResult, ShardDirProducer, TESTMSG_SCHEMA, consume_count,
    consume_observed, decode_json, shard_source,
)

N_RECORDS = 10_000
N_SHARDS = 8


def test_flatten_chunks_mirror(spark, tmpdir_factory_local):
    """Concurrent producer + consumer; stop after exactly N; count == N."""
    src = tmpdir_factory_local("src")
    ckpt = tmpdir_factory_local("ckpt")
    producer = ShardDirProducer(src, n_shards=N_SHARDS, batch_size=500,
                                throttle_s=0.05)
    t = producer.fork(N_RECORDS)
    valid, _ = decode_json(shard_source(spark, src))
    res = consume_count(valid, target=N_RECORDS, checkpoint_dir=ckpt,
                        trigger_s=0.3, timeout_s=120)
    t.join(timeout=60)
    assert not res.failed, res.error
    # the reference's golden assertion: processed count == produced count
    # (FlattenChunksTest.scala:59)
    assert res.distinct == N_RECORDS
    assert res.processed == N_RECORDS  # no failures → no re-delivery
    assert set(res.ids) == set(range(1, N_RECORDS + 1))
    assert res.order_violations == []
    # per-shard ordered processing: high-water seq == records routed there
    assert sum(res.last_seq.values()) == N_RECORDS


def test_checkpoint_restart_at_least_once(spark, tmpdir_factory_local):
    """Injected mid-stream failure + restart from checkpoint: every id
    seen ≥1×, re-delivery bounded to the failed epoch (at-least-once,
    no loss — CheckpointOnChunkEndStreamClient.scala:58-72 semantics)."""
    src = tmpdir_factory_local("src")
    ckpt = tmpdir_factory_local("ckpt")
    n = 4_000
    producer = ShardDirProducer(src, n_shards=4, batch_size=500)
    producer.produce_all(n)  # pre-produced; failure is on the consume side
    valid, _ = decode_json(shard_source(spark, src, max_files_per_trigger=2))

    res = ConsumeResult()
    first = consume_count(valid, target=n, checkpoint_dir=ckpt,
                          fail_on_ids={n // 2}, trigger_s=0.2,
                          timeout_s=120, result=res)
    assert first.failed, "injected failure should abort the query"
    processed_before_restart = first.processed
    assert processed_before_restart < n

    second = consume_count(valid, target=n, checkpoint_dir=ckpt,
                           trigger_s=0.2, timeout_s=120, result=res)
    assert not second.failed, second.error
    # no loss: every produced id delivered at least once
    assert set(second.ids) == set(range(1, n + 1))
    # at-least-once with *bounded* re-delivery: only records from the
    # uncommitted epoch were re-processed
    assert second.processed >= n
    redelivered = second.processed - n
    assert redelivered <= 2 * 500 + 1  # ≤ one failed epoch (2 files/trigger)
    # the failed record itself was re-delivered and succeeded
    assert second.ids[n // 2] >= 2


def test_dead_letter_routing(spark, tmpdir_factory_local):
    """Malformed payloads route to the dead-letter side, never crash the
    stream and never silently drop (TestMsgJsonSerde.scala:17-22 typed
    error channel)."""
    src = tmpdir_factory_local("src")
    ckpt = tmpdir_factory_local("ckpt")
    n = 1_000
    corrupt_every = 100  # ids 100, 200, ..., 1000 → 10 corrupt records
    producer = ShardDirProducer(src, n_shards=4, batch_size=250,
                                corrupt_every=corrupt_every)
    producer.produce_all(n)

    # batch-mode check of the same serde split (decode is source-agnostic)
    batch = spark.read.schema(
        shard_source(spark, src).schema
    ).json(src)
    valid_b, dead_b = decode_json(batch)
    assert valid_b.count() == n - 10
    assert dead_b.count() == 10
    assert dead_b.filter(F.col("data").isNotNull()).count() == 10  # raw kept

    # streaming: consume only the valid side to completion
    valid, _ = decode_json(shard_source(spark, src))
    res = consume_count(valid, target=n - 10, checkpoint_dir=ckpt,
                        trigger_s=0.2, timeout_s=60)
    assert not res.failed, res.error
    assert res.distinct == n - 10
    assert all(i % corrupt_every != 0 for i in res.ids)


def test_decode_typed_schema(spark):
    """Decoded payload carries the declared TestMsg schema (id INT) —
    static nominal typing, no inference (TestMsg.scala:3)."""
    df = spark.createDataFrame(
        [("s", "k", 1, '{"id": 7}'), ("s", "k", 2, "oops")],
        "shard_id string, partition_key string, seq long, data string",
    )
    valid, dead = decode_json(df, TESTMSG_SCHEMA)
    assert dict(valid.dtypes)["id"] == "int"
    assert [r.id for r in valid.collect()] == [7]
    assert [r.seq for r in dead.collect()] == [2]


def test_retry_policy_composite():
    """Mirror of the reference's composite schedule (TestUtils.scala:45-50):
    retry only the selected exception type, bounded attempts, exponential
    delays; other exceptions propagate immediately."""
    from zio_kinesis_example_spark.streaming.consume import retry

    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky_then_ok():
        calls["n"] += 1
        if calls["n"] < 4:
            raise TimeoutError("transient")
        return "ok"

    assert retry(flaky_then_ok, retry_on=(TimeoutError,),
                 sleep=sleeps.append) == "ok"
    assert sleeps == [0.1, 0.2, 0.4]  # exponential from 100ms

    # exhaustion: re-raises after max_attempts retries
    def always_fails():
        raise TimeoutError("never")
    try:
        retry(always_fails, retry_on=(TimeoutError,), max_attempts=2,
              sleep=sleeps.append)
    except TimeoutError:
        pass
    else:
        raise AssertionError("expected exhaustion re-raise")

    # selective: non-matching type propagates without retry
    attempts = {"n": 0}
    def wrong_type():
        attempts["n"] += 1
        raise ValueError("not retryable")
    try:
        retry(wrong_type, retry_on=(TimeoutError,), sleep=sleeps.append)
    except ValueError:
        pass
    assert attempts["n"] == 1


def test_observe_metrics_per_batch(spark, tmpdir_factory_local):
    """Reference op 8 (tap/per-record observation) as df.observe():
    side-channel metrics delivered through the library MetricsTap
    listener (streaming/observe.py, reference op 26's correlation-id
    logging surface) — no second aggregation job over the data."""
    from pyspark.sql import functions as F
    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, decode_json, shard_source, tapped,
    )

    src = tmpdir_factory_local("obs-src")
    ckpt = tmpdir_factory_local("obs-ckpt")
    ShardDirProducer(src, n_shards=2, batch_size=25).produce_all(100)

    valid, _ = decode_json(shard_source(spark, src))
    observed = valid.observe("tap", F.count(F.lit(1)).alias("n"),
                             F.sum("id").alias("sum_id"))

    with tapped(spark, "tap") as tap:
        q = (observed.writeStream.format("noop")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        tap.wait_for("n", 100, timeout_s=20)  # listener events are async
        assert tap.total("n") == 100
        assert tap.total("sum_id") == 100 * 101 // 2
        assert tap.batches >= 1 and tap.input_rows == 100


def test_observe_logs_correlation_id(spark, tmpdir_factory_local, caplog):
    """Every lifecycle/progress log line is one JSON object stamped with
    the query's runId as the correlation id (reference op 26,
    logback.xml:3-17 MDC pattern)."""
    import json as _json
    import logging as _logging

    from pyspark.sql import functions as F
    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, decode_json, shard_source, tapped,
    )

    src = tmpdir_factory_local("cid-src")
    ckpt = tmpdir_factory_local("cid-ckpt")
    ShardDirProducer(src, n_shards=2, batch_size=25).produce_all(50)
    valid, _ = decode_json(shard_source(spark, src))
    observed = valid.observe("cid-tap", F.count(F.lit(1)).alias("n"))

    with caplog.at_level(_logging.INFO, logger="zke.streaming"):
        with tapped(spark, "cid-tap") as tap:
            q = (observed.writeStream.format("noop")
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination(120)
            tap.wait_for("n", 50, timeout_s=20)
    events = [_json.loads(r.message) for r in caplog.records
              if r.name == "zke.streaming"]
    assert {"started", "progress"} <= {e["evt"] for e in events}
    cids = {e["cid"] for e in events if e["evt"] in ("started", "progress")}
    assert len(cids) == 1  # one run → one correlation id on every line
    prog = [e for e in events if e["evt"] == "progress" and e["metrics"]]
    assert sum(e["metrics"]["n"] for e in prog) == 50


def test_consume_observed_executor_path(spark, tmpdir_factory_local):
    """The production consume path: counts via observe()+listener, sink a
    per-batch noop write — the data never reaches the driver. Same golden
    assertion as the mirror (processed == produced,
    FlattenChunksTest.scala:59)."""
    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, consume_observed, decode_json, shard_source,
    )

    src = tmpdir_factory_local("exec-src")
    ckpt = tmpdir_factory_local("exec-ckpt")
    n = 5_000
    ShardDirProducer(src, n_shards=4, batch_size=500).produce_all(n)
    valid, _ = decode_json(shard_source(spark, src))
    res = consume_observed(valid, ckpt)
    assert not res.failed, res.error
    assert res.processed == n
    assert res.sum_id == n * (n + 1) // 2
    assert res.batches >= 1


def test_consume_observed_with_errors_restart(spark, tmpdir_factory_local):
    """Executor-path twin of the checkpoint-restart test: injected failure
    aborts the query, restart from the same checkpoint redelivers only
    uncommitted batches (at-least-once; bounded by files-per-trigger)."""
    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, consume_observed, decode_json, shard_source,
    )

    src = tmpdir_factory_local("exer-src")
    ckpt = tmpdir_factory_local("exer-ckpt")
    n = 4_000
    ShardDirProducer(src, n_shards=4, batch_size=500).produce_all(n)
    valid, _ = decode_json(shard_source(spark, src, max_files_per_trigger=2))

    pending = {n // 2}
    first = consume_observed(valid, ckpt, fail_on_ids=pending)
    assert first.failed, "injected failure should abort the query"
    assert not pending, "failure should have consumed the pending id"

    second = consume_observed(valid, ckpt, fail_on_ids=pending)
    assert not second.failed, second.error
    # failed batch commits no progress event → its records count once,
    # on redelivery; total is n, plus at most one epoch of slack
    total = first.processed + second.processed
    assert n <= total <= n + 2 * 500


def test_idempotent_foreachbatch_sink_exactly_once(spark, tmpdir_factory_local):
    """The production exactly-once foreachBatch pattern: the sink write is
    keyed by (epoch_id) and skipped if already committed, so a batch
    re-delivered after a crash does not duplicate output — foreachBatch is
    at-least-once (reference §3.2 semantics), the sink makes it
    exactly-once. We simulate the crash by failing the FIRST attempt of
    epoch 0 AFTER writing its output."""
    import os

    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, decode_json, shard_source,
    )

    src = tmpdir_factory_local("idem-src")
    ckpt = tmpdir_factory_local("idem-ckpt")
    out = tmpdir_factory_local("idem-out")
    ShardDirProducer(src, n_shards=2, batch_size=50).produce_all(100)
    valid, _ = decode_json(shard_source(spark, src))

    crashed = {"done": False}

    def fb(batch_df, epoch_id):
        epoch_dir = os.path.join(out, f"epoch={epoch_id}")
        if os.path.exists(epoch_dir):
            return  # already committed: idempotent skip on re-delivery
        batch_df.select("id").write.mode("overwrite").parquet(epoch_dir)
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("crash after write, before offset commit")

    def run():
        q = (valid.writeStream.foreachBatch(fb)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(120)
        except Exception:
            pass
        return q

    run()          # first attempt: writes epoch 0, crashes pre-commit
    run()          # restart: epoch 0 re-delivered, skipped; rest lands
    landed = spark.read.option("basePath", out).parquet(out)
    assert landed.count() == 100                      # no duplicates
    assert landed.select("id").distinct().count() == 100


def test_kinesis_reader_option_construction(spark):
    """The real-Kinesis twin (no AWS in the sandbox): option construction
    is unit-tested; invoking the source without the connector jar fails
    with the expected missing-data-source error, proving the format
    string is wired."""
    from zio_kinesis_example_spark.streaming import (
        kinesis_reader_options, kinesis_source,
    )

    opts = kinesis_reader_options("events-stream", region="eu-west-1",
                                  initial_position="latest",
                                  endpoint_url="https://localhost:4566")
    assert opts == {
        "streamName": "events-stream",
        "region": "eu-west-1",
        "initialPosition": "latest",
        "endpointUrl": "https://localhost:4566",
    }
    assert "endpointUrl" not in kinesis_reader_options("s")
    with pytest.raises(Exception, match="(?i)kinesis"):
        kinesis_source(spark, "events-stream")


def test_metrics_tap_binds_to_one_query():
    """Progress events from a second query on the same session must not
    pollute the tap's batches/input_rows (events are synthesized — the
    listener contract is what's under test)."""
    from types import SimpleNamespace

    from zio_kinesis_example_spark.streaming import MetricsTap

    class FakeRow:
        __fields__ = ["n"]

        def __init__(self, n):
            self._n = n

        def __getitem__(self, k):
            return self._n

        def asDict(self):
            return {"n": self._n}

    def progress_event(run_id, name_to_row, rows):
        return SimpleNamespace(progress=SimpleNamespace(
            observedMetrics=name_to_row, numInputRows=rows,
            runId=run_id, batchId=0))

    tap = MetricsTap("tapA")
    tap.onQueryProgress(progress_event("run-1", {"tapA": FakeRow(10)}, 10))
    tap.onQueryProgress(progress_event("run-2", {"tapB": FakeRow(99)}, 99))
    tap.onQueryProgress(progress_event("run-1", {"tapA": FakeRow(5)}, 5))
    # run-2 carrying a same-named observation must ALSO be ignored once
    # the tap is bound to run-1
    tap.onQueryProgress(progress_event("run-2", {"tapA": FakeRow(77)}, 77))
    assert tap.total("n") == 15
    assert tap.batches == 2
    assert tap.input_rows == 15


def test_consume_observed_timeout_is_failure(spark, tmpdir_factory_local):
    """awaitTermination timing out (query still running) must surface as
    failed=True/'timeout', not a silent partial success."""
    src = tmpdir_factory_local("tmo-src")
    ckpt = tmpdir_factory_local("tmo-ckpt")
    ShardDirProducer(src, n_shards=8, batch_size=200).produce_all(20_000)
    valid, _ = decode_json(shard_source(spark, src, max_files_per_trigger=2))
    res = consume_observed(valid, ckpt, timeout_s=1)
    assert res.failed
    assert "timeout" in res.error


def test_kafka_reader_option_construction(spark):
    """The Kafka twin mirrors the Kinesis one: options unit-tested, and
    invoking without the connector jar raises the missing-data-source
    error, proving the format string is wired."""
    from zio_kinesis_example_spark.streaming import (
        kafka_reader_options, kafka_source,
    )

    opts = kafka_reader_options("events", "broker1:9092,broker2:9092",
                                starting_offsets="latest",
                                max_offsets_per_trigger=50_000)
    assert opts == {
        "subscribe": "events",
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "startingOffsets": "latest",
        "maxOffsetsPerTrigger": "50000",
    }
    assert "maxOffsetsPerTrigger" not in kafka_reader_options("t", "b:9092")
    with pytest.raises(Exception, match="(?i)kafka"):
        kafka_source(spark, "events")


def test_upsert_sink_latest_state_per_key(spark, tmpdir_factory_local):
    """foreachBatch CDC compaction: a stream of keyed updates maintains a
    latest-per-key snapshot across separate runs of the same checkpoint
    (restart = resume, not reprocess), mirroring the reference's
    process-then-mark contract at micro-batch granularity."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, UpsertSink, decode_json, shard_source,
    )

    src = tmpdir_factory_local("upsert-src")
    ckpt = tmpdir_factory_local("upsert-ckpt")
    state = tmpdir_factory_local("upsert-state")
    schema = StructType([
        StructField("id", IntegerType()),
        StructField("val", IntegerType()),
    ])
    prod = ShardDirProducer(
        src, n_shards=2, batch_size=50,
        payload_fn=lambda i: {"id": i % 25, "val": i},
    )
    sink = UpsertSink(state, key="id", seq_col="val")

    def run():
        valid, _ = decode_json(shard_source(spark, src), schema)
        q = (
            valid.select("id", "val")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    prod.produce_all(100)
    run()
    s1 = {r["id"]: r["val"] for r in sink.current(spark).collect()}
    assert len(s1) == 25
    assert s1[1] == 76 and s1[0] == 100  # max i in 1..100 per residue

    prod.produce_all(300, start=101)   # updates for every key
    run()
    s2 = {r["id"]: r["val"] for r in sink.current(spark).collect()}
    assert len(s2) == 25
    assert all(s2[k] > s1[k] for k in s1)
    assert s2[0] == 300 and s2[24] == 299

    run()  # no new data: state unchanged, no spurious version
    s3 = {r["id"]: r["val"] for r in sink.current(spark).collect()}
    assert s3 == s2


def test_upsert_sink_replayed_batch_is_idempotent(spark, tmpdir_factory_local):
    """At-least-once → exactly-once state: re-delivering a batch (same
    batch_id, after a crash before the offset commit) must leave the
    snapshot unchanged — the merge re-applies the same delta onto a
    snapshot that already contains it. The replay lands in a FRESH
    generation directory of the same batch version (v1.g1), never
    in-place over the directory the merge is lazily reading, and never
    over a newer batch's version."""
    from zio_kinesis_example_spark.streaming import UpsertSink

    state = tmpdir_factory_local("upsert-replay")
    sink = UpsertSink(state, key="id", seq_col="seq")
    b0 = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (1, 11, "a2")], "id int, seq int, v string")
    sink(b0, 0)
    snap0 = sorted(map(tuple, sink.current(spark).collect()))
    assert snap0 == [(1, 11, "a2"), (2, 20, "b")]

    b1 = spark.createDataFrame([(2, 30, "b2"), (3, 31, "c")],
                               "id int, seq int, v string")
    sink(b1, 1)
    snap1 = sorted(map(tuple, sink.current(spark).collect()))
    assert snap1 == [(1, 11, "a2"), (2, 30, "b2"), (3, 31, "c")]

    sink(b1, 1)  # crash-replay of batch 1
    assert sorted(map(tuple, sink.current(spark).collect())) == snap1
    assert sink.current_version() == "v1.g1"

    sink(b1, 1)  # second replay: next generation, still idempotent
    assert sorted(map(tuple, sink.current(spark).collect())) == snap1
    assert sink.current_version() == "v1.g2"


def test_end_to_end_pipeline_composed(spark, tmpdir_factory_local):
    """The whole reference pipeline in ONE test: sharded ingest → typed
    decode split (valid / dead-letter) → keyed upsert sink, across a
    restart with re-deliveries — composing the pieces the suite tests
    individually. Final snapshot must hold exactly the latest state per
    valid id; corrupt records must all land dead-lettered, never
    dropped, never in the snapshot."""
    from zio_kinesis_example_spark.streaming.sink import UpsertSink
    from zio_kinesis_example_spark.streaming.windows import run_available_now

    src = tmpdir_factory_local("e2e-src")
    ckpt_v = tmpdir_factory_local("e2e-ckpt-valid")
    ckpt_d = tmpdir_factory_local("e2e-ckpt-dead")
    state = tmpdir_factory_local("e2e-state")
    prod = ShardDirProducer(src, n_shards=4, corrupt_every=100)
    sink = UpsertSink(str(state), key="id", seq_col="seq")
    dead_rows: list = []

    def drain():
        valid, dead = decode_json(shard_source(spark, src))
        q = (valid.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt_v)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert q.exception() is None
        run_available_now(dead, ckpt_d, dead_rows)

    # run 1: ids 1..400 (100, 200, 300, 400 corrupt)
    prod.produce(1, 400)
    drain()
    snap1 = sink.current(spark)
    assert snap1.count() == 396

    # run 2 (restart, same checkpoints): re-deliver 1..50 (new, higher
    # per-shard seqs) + fresh 401..450
    prod.produce(1, 50)
    prod.produce(401, 50)
    drain()
    snap2 = sink.current(spark)

    ids = sorted(r.id for r in snap2.select("id").collect())
    expected = [i for i in range(1, 451) if i % 100 != 0]
    assert ids == expected                      # nothing lost, no corrupt ids
    assert snap2.groupBy("id").count().filter("count > 1").count() == 0
    # re-delivered ids carry the LATEST delivery's seq: id 1's stored seq
    # must exceed the first run's seq for some re-delivered key
    first_run_seq = {r.id: r.seq for r in snap1.collect()}
    second_run_seq = {r.id: r.seq for r in snap2.collect()}
    assert all(second_run_seq[i] > first_run_seq[i] for i in range(1, 51))
    # every corrupt record dead-lettered exactly once, raw payload kept
    assert sorted(
        int(r.partition_key.removeprefix("key")) for r in dead_rows
    ) == [100, 200, 300, 400]
    assert all(r.data for r in dead_rows)


def test_order_violations_frame_executor_side(spark):
    """Gap detection returns ONLY violation rows: a forward seq jump is
    flagged (within-batch and vs the prior high-water mark), while
    at-least-once redelivery (seq <= high-water) is not."""
    from zio_kinesis_example_spark.streaming.consume import (
        order_violations_frame,
    )
    batch = spark.createDataFrame(
        [("s0", 5), ("s0", 6), ("s0", 9),   # intra-batch gap 6 -> 9
         ("s1", 3),                          # vs hw 1: gap 1 -> 3
         ("s2", 2),                          # redelivery vs hw 4: ok
         ("s3", 1)],                         # unseen shard: ok
        "shard_id string, seq long")
    viols = order_violations_frame(batch, {"s0": 4, "s1": 1, "s2": 4}) \
        .collect()
    got = {(v.shard_id, v.prev_seq, v.seq) for v in viols}
    assert got == {("s0", 6, 9), ("s1", 1, 3)}
    assert not order_violations_frame(batch.filter("shard_id = 's3'"), {}) \
        .collect()


def test_order_violations_redelivery_does_not_mask_high_water(spark):
    """Regression: a redelivered below-high-water record must not become
    the in-batch predecessor and turn its contiguous successor
    (seq == hw + 1) into a spurious gap report."""
    from zio_kinesis_example_spark.streaming.consume import (
        order_violations_frame,
    )
    batch = spark.createDataFrame(
        [("s0", 5), ("s0", 7),    # hw 6: 5 is redelivery, 7 = hw + 1 ok
         ("s1", 2), ("s1", 9)],   # hw 6: 9 > hw + 1 → real gap from 6
        "shard_id string, seq long")
    viols = order_violations_frame(batch, {"s0": 6, "s1": 6}).collect()
    got = {(v.shard_id, v.prev_seq, v.seq) for v in viols}
    assert got == {("s1", 6, 9)}


def test_connector_option_surfaces_match_golden():
    """Contract test pinning the full option maps the live-connector
    builders emit against tests/golden/connector_options.json (the
    documented connector surface). Catches silent drift in option names
    or default values — the failure mode for code that can't run against
    a real broker in this environment."""
    import json
    import os

    from zio_kinesis_example_spark.streaming.source import (
        kafka_reader_options, kinesis_reader_options,
    )
    golden_path = os.path.join(os.path.dirname(__file__), "golden",
                               "connector_options.json")
    with open(golden_path) as f:
        golden = json.load(f)

    assert kinesis_reader_options("orders-stream") \
        == golden["kinesis"]["defaults"]
    assert kinesis_reader_options(
        "orders-stream", region="eu-west-1", initial_position="latest",
        endpoint_url="https://kinesis.local:4566",
    ) == golden["kinesis"]["with_endpoint"]
    assert kafka_reader_options("orders-topic", "broker1:9092,broker2:9092") \
        == golden["kafka"]["defaults"]
    assert kafka_reader_options(
        "orders-topic", "broker1:9092,broker2:9092",
        starting_offsets="latest", max_offsets_per_trigger=5000,
    ) == golden["kafka"]["with_pacing"]


def test_order_violations_unseen_shard_head_gap(spark):
    """A shard with no high-water entry has implicit high-water 0
    (producers emit seq 1 first): opening at seq 3 means the head of the
    shard was skipped and must be flagged."""
    from zio_kinesis_example_spark.streaming.consume import (
        order_violations_frame,
    )
    batch = spark.createDataFrame(
        [("s9", 3), ("s8", 1)], "shard_id string, seq long")
    got = {(v.shard_id, v.prev_seq, v.seq)
           for v in order_violations_frame(batch, {}).collect()}
    assert got == {("s9", 0, 3)}


def test_upsert_sink_null_field_update_is_not_masked(spark,
                                                     tmpdir_factory_local):
    """A later delta that legitimately nulls a field must win whole-row:
    per-column coalesce would resurrect the stale base value."""
    from zio_kinesis_example_spark.streaming import UpsertSink

    state = tmpdir_factory_local("upsert-null")
    sink = UpsertSink(state, key="id", seq_col="seq")
    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "id long, seq long, v string")
    sink(base, batch_id=0)
    delta = spark.createDataFrame(
        [(1, 30, None)], "id long, seq long, v string")
    sink(delta, batch_id=1)
    rows = {r.id: r for r in sink.current(spark).collect()}
    assert rows[1].seq == 30 and rows[1].v is None   # NULL update kept
    assert rows[2].v == "b"                          # untouched key


def test_decode_json_null_data_dead_letters(spark):
    """A NULL payload (Kafka tombstone shape) must land in the dead
    letter, not as an all-null 'valid' row."""
    from zio_kinesis_example_spark.streaming import decode_json

    env = spark.createDataFrame(
        [("s0", "k0", 1, '{"id": 7, "partition_key": "k0", "data": "x"}'),
         ("s0", "k1", 2, None)],
        "shard_id string, partition_key string, seq long, data string")
    valid, dead = decode_json(env)
    assert [r.id for r in valid.collect()] == [7]
    dead_rows = dead.collect()
    assert len(dead_rows) == 1 and dead_rows[0].seq == 2


def test_incremental_dedup_streaming_twin(spark, tmpdir_factory_local):
    """Streaming twin of q_dedup_incremental (pipeline_ext.py) composed
    with the CDC upsert sink: each micro-batch of crawled documents
    probes the fingerprint index built by every PRIOR batch (dup-of-
    history verdict + canonical pointer), then registers only its
    first-seen fingerprints — so history's canonical assignment is
    stable forever, across restarts of the same checkpoint. This is the
    daily-crawl loop the two batch queries document: O(history) index
    work happened in earlier batches; each ingest pays O(batch)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, UpsertSink, decode_json, shard_source,
    )

    src = tmpdir_factory_local("incdedup-src")
    ckpt = tmpdir_factory_local("incdedup-ckpt")
    state = tmpdir_factory_local("incdedup-state")
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ])
    # 40 distinct texts cycling over doc_ids: later docs duplicate history
    prod = ShardDirProducer(
        src, n_shards=2, batch_size=50,
        payload_fn=lambda i: {"doc_id": i, "text": f"t{i % 40}"},
    )
    index = UpsertSink(state, key="fp", seq_col="canonical")
    verdicts: dict[int, tuple[bool, int | None]] = {}

    def ingest(batch, batch_id):
        s = batch.sparkSession
        delta = batch.select("doc_id", F.md5("text").alias("fp"))
        hist = index.current(s)
        if hist is None:
            hist = s.createDataFrame(
                [], "fp string, canonical long")
        probed = (
            delta.join(hist, "fp", "left")
            .select("doc_id",
                    F.col("canonical").isNotNull().alias("dup"),
                    "canonical")
        )
        for r in probed.collect():   # test-harness mirror of the report sink
            verdicts[r.doc_id] = (r.dup, r.canonical)
        # register ONLY first-seen fingerprints: history's canonical is
        # immutable (anti-join before the upsert keeps batch collisions
        # from overwriting an older canonical)
        fresh = (
            delta.join(hist, "fp", "left_anti")
            .groupBy("fp").agg(F.min("doc_id").alias("canonical"))
        )
        index(fresh, batch_id)

    def run():
        valid, _ = decode_json(shard_source(spark, src), schema)
        q = (
            valid.select("doc_id", "text")
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None

    # run 1: docs 1..40 — every fingerprint is new
    prod.produce_all(40)
    run()
    assert all(not verdicts[i][0] for i in range(1, 41))
    idx1 = {r.fp: r.canonical for r in index.current(spark).collect()}
    assert len(idx1) == 40

    # run 2 (restart, same checkpoint): docs 41..200 all duplicate
    # history; canonical must point at the run-1 doc of the same residue
    prod.produce_all(200, start=41)
    run()
    for i in range(41, 201):
        dup, canonical = verdicts[i]
        assert dup, f"doc {i} should duplicate history"
        want = i % 40 if i % 40 >= 1 else 40
        assert canonical == want, (i, canonical, want)
    # index unchanged: canonicals are stable across ingests
    idx2 = {r.fp: r.canonical for r in index.current(spark).collect()}
    assert idx2 == idx1

    # run 3: no new data — no new verdicts, index untouched
    n_before = len(verdicts)
    run()
    assert len(verdicts) == n_before
    assert {r.fp: r.canonical
            for r in index.current(spark).collect()} == idx1


def test_streaming_ann_probe_restart_safe(spark, tmpdir_factory_local):
    """Streaming similarity probe (round 9): arriving vectors get a
    top-k verdict against the PERSISTED trained IVF index per
    micro-batch (foreachBatch), landing in the idempotent keyed upsert
    sink. Asserted: (a) the final state after a two-wave
    restart-from-checkpoint run equals the single-shot batch twin over
    the same index; (b) an at-least-once REPLAY of an already-committed
    batch leaves the state byte-identical (kill-mid-commit analogue —
    the reference's resume-from-checkpoint contract,
    CheckpointOnChunksTest.scala:37-47, applied to index lookups)."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, UpsertSink, decode_json, ivf_index, probe_topk,
        shard_source, topk_ingest,
    )

    from .conftest import SF_SMALL

    src = tmpdir_factory_local("annprobe-src")
    ckpt = tmpdir_factory_local("annprobe-ckpt")
    state = tmpdir_factory_local("annprobe-state")

    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.read.parquet(
            f"{SF_SMALL}/embeddings.parquet").collect()
    }
    ids = sorted(vecs)[:60]
    schema = StructType([
        StructField("query_id", LongType()),
        StructField("emb", ArrayType(DoubleType())),
    ])
    prod = ShardDirProducer(
        src, n_shards=2, batch_size=30,
        payload_fn=lambda i: {"query_id": ids[i - 1],
                              "emb": vecs[ids[i - 1]]},
    )
    corpus_cells, Cn = ivf_index(spark, SF_SMALL)
    sink = UpsertSink(state, key="query_id", seq_col="neighbors")
    ingest = topk_ingest(sink, corpus_cells, Cn)

    def run():
        valid, _ = decode_json(shard_source(spark, src), schema)
        q = (
            valid.select("query_id", "emb")
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # wave 1: first 30 vectors
    prod.produce_all(30)
    run()
    s1 = {r.query_id: r.neighbors for r in sink.current(spark).collect()}
    assert set(s1) == set(ids[:30])

    # wave 2 (restart from the same checkpoint): remaining 30
    prod.produce_all(60, start=31)
    run()
    got = {r.query_id: r.neighbors for r in sink.current(spark).collect()}
    assert set(got) == set(ids)
    assert all(got[i] == s1[i] for i in ids[:30])  # history stable

    # batch twin over the same frozen index = the streamed verdicts
    queries = spark.createDataFrame(
        [(i, vecs[i]) for i in ids], "query_id long, emb array<double>")
    want: dict[int, list[int]] = {}
    for r in probe_topk(queries, corpus_cells, Cn).collect():
        want.setdefault(r.query_id, []).append((r.rnk, r.neighbor_id))
    want_s = {q: " ".join(str(n) for _, n in sorted(v))
              for q, v in want.items()}
    assert got == want_s

    # at-least-once replay of a committed batch: state unchanged
    replay = spark.createDataFrame(
        [(i, vecs[i]) for i in ids[:30]],
        "query_id long, emb array<double>")
    ingest(replay, batch_id=0)
    assert {r.query_id: r.neighbors
            for r in sink.current(spark).collect()} == want_s

    # in-batch re-delivery (r9 review): the SAME record twice inside one
    # micro-batch must not garble the verdict (A,A,B,B,C ranking)
    doubled = spark.createDataFrame(
        [(ids[0], vecs[ids[0]]), (ids[0], vecs[ids[0]])],
        "query_id long, emb array<double>")
    ingest(doubled, batch_id=99)
    assert {r.query_id: r.neighbors
            for r in sink.current(spark).collect()} == want_s

    # poison records (r9 review): a NULL or wrong-dimension vector must
    # cost its own verdict, never crash the batch (permanent
    # replay-crash loop)
    poison = spark.createDataFrame(
        [(999_999, None), (999_998, [1.0, 2.0])],
        "query_id long, emb array<double>")
    ingest(poison, batch_id=100)
    assert {r.query_id: r.neighbors
            for r in sink.current(spark).collect()} == want_s

    corpus_cells.unpersist()


def test_flagged_decode_keeps_gap_detection_honest(spark,
                                                   tmpdir_factory_local):
    """Dead-lettered records consume transport seqs: with the split
    decode form their seqs vanish from the valid stream and every
    corrupt record would read as a spurious forward gap. The in-band
    form (decode_json_flagged) keeps them visible — zero violations on
    a perfectly ordered corrupt stream, record effects only for the
    decodable rows (code-review r5 finding)."""
    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, consume_count, decode_json_flagged, shard_source,
    )

    src = tmpdir_factory_local("flagged-src")
    ckpt = tmpdir_factory_local("flagged-ckpt")
    n, corrupt_every = 400, 50
    prod = ShardDirProducer(src, n_shards=4, corrupt_every=corrupt_every)
    prod.produce_all(n)

    flagged = decode_json_flagged(shard_source(spark, src))
    res = consume_count(flagged, target=n - n // corrupt_every,
                        checkpoint_dir=ckpt, trigger_s=0.2, timeout_s=60)
    assert not res.failed, res.error
    assert res.order_violations == []          # the point of the in-band form
    assert res.distinct == n - n // corrupt_every
    assert all(i % corrupt_every != 0 for i in res.ids)


def test_decode_json_missing_required_field_dead_letters(spark):
    """Structurally valid JSON lacking the schema's required first field
    ('{}', '{"foo": 1}', 'null') must dead-letter, not enter the valid
    stream as a NULL-id row that poisons keyed sinks downstream."""
    from zio_kinesis_example_spark.streaming import decode_json

    env = spark.createDataFrame(
        [("s0", "k0", 1, '{"id": 7}'),
         ("s0", "k1", 2, "{}"),
         ("s0", "k2", 3, '{"foo": 1}'),
         ("s0", "k3", 4, "null")],
        "shard_id string, partition_key string, seq long, data string")
    valid, dead = decode_json(env)
    assert [r.id for r in valid.collect()] == [7]
    assert sorted(r.seq for r in dead.collect()) == [2, 3, 4]


def test_upsert_sink_null_key_merges_as_one_group(spark,
                                                  tmpdir_factory_local):
    """A NULL key must behave like any other key value in the merge:
    the delta's data wins whole-row, and repeated NULL-key batches
    update ONE row instead of appending an all-NULL row per batch."""
    from zio_kinesis_example_spark.streaming import UpsertSink

    state = tmpdir_factory_local("upsert-nullkey")
    sink = UpsertSink(state, key="id", seq_col="seq")
    sink(spark.createDataFrame([(None, 1, "a"), (7, 1, "x")],
                               "id int, seq int, v string"), 0)
    sink(spark.createDataFrame([(None, 2, "b")],
                               "id int, seq int, v string"), 1)
    rows = sorted(((r.id, r.seq, r.v)
                   for r in sink.current(spark).collect()),
                  key=lambda t: (t[0] is None, t))
    assert rows == [(7, 1, "x"), (None, 2, "b")]


def test_upsert_sink_gc_keeps_current_and_previous(spark,
                                                   tmpdir_factory_local):
    """Superseded snapshot versions are deleted after each successful
    swap — only the current version and its immediate predecessor (the
    replay margin) remain on disk."""
    import os

    from zio_kinesis_example_spark.streaming import UpsertSink

    state = tmpdir_factory_local("upsert-gc")
    sink = UpsertSink(state, key="id", seq_col="seq")
    for b in range(4):
        sink(spark.createDataFrame([(1, b, f"v{b}")],
                                   "id int, seq int, v string"), b)
    dirs = sorted(d for d in os.listdir(state) if d.startswith("v"))
    assert dirs == ["v2", "v3"]
    assert sink.current_version() == "v3"
    assert [r.v for r in sink.current(spark).collect()] == ["v3"]


_KILL_CHILD = '''
import os, signal, sys, time
repo, src, ckpt, state, flag = sys.argv[1:6]
sys.path.insert(0, repo)
from pyspark.sql.types import IntegerType, StructField, StructType
from zio_kinesis_example_spark.session import get_spark
from zio_kinesis_example_spark.streaming import (
    UpsertSink, decode_json, shard_source,
)

# the library's own local session, so recovery runs on the checkpoint
# file manager it ships
spark = get_spark(cpus=2, shuffle_partitions=2)
schema = StructType([StructField("id", IntegerType()),
                     StructField("val", IntegerType())])


class KillingSink(UpsertSink):
    """First delivery of batch 1: let the snapshot write complete, then
    SIGKILL the JVM BEFORE the pointer swap (and before Structured
    Streaming commits the batch offsets) - a genuine mid-batch crash."""

    def __call__(self, batch, batch_id):
        if batch_id == 1 and not os.path.exists(flag):
            open(flag, "w").close()
            real = os.replace

            def bomb(a, b):
                os.kill(spark.sparkContext._gateway.proc.pid,
                        signal.SIGKILL)
                time.sleep(120)  # the dying JVM never sees the swap

            os.replace = bomb
            try:
                super().__call__(batch, batch_id)
            finally:
                os.replace = real
        else:
            super().__call__(batch, batch_id)


sink = KillingSink(state, key="id", seq_col="val")
valid, _ = decode_json(shard_source(spark, src, max_files_per_trigger=2),
                       schema)
q = (valid.select("id", "val").writeStream.foreachBatch(sink)
     .option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start())
q.awaitTermination(300)
spark.stop()
print("CLEAN-EXIT")
'''


def test_upsert_sink_survives_mid_batch_jvm_kill(tmpdir_factory_local,
                                                 spark):
    """Chaos twin of the replay-idempotence test: a REAL SIGKILL of the
    JVM inside foreachBatch - after batch 1's snapshot write, before the
    pointer swap and the offset commit (the reference's bracket/ensuring
    window, CheckpointOnChunkEndStreamClient.scala:58-72). The restart
    must replay batch 1 onto the still-published predecessor snapshot
    and converge to exactly the latest-per-key state, with the torn
    generation never visible to readers."""
    import os
    import subprocess
    import sys

    from zio_kinesis_example_spark.streaming import ShardDirProducer, UpsertSink

    src = tmpdir_factory_local("kill-src")
    ckpt = tmpdir_factory_local("kill-ckpt")
    state = tmpdir_factory_local("kill-state")
    flag = os.path.join(state, "_killed")
    child = os.path.join(state, "_child.py")
    with open(child, "w") as f:
        f.write(_KILL_CHILD)
    prod = ShardDirProducer(src, n_shards=2, batch_size=20,
                            payload_fn=lambda i: {"id": i % 10, "val": i})
    prod.produce_all(120)  # 6 files -> 3 two-file micro-batches
    # FileStreamSource orders files by MILLISECOND mtime; files written
    # back-to-back tie and the batch composition becomes arbitrary
    # (observed: {file2, file5} in one batch). The sink's CDC contract
    # is last-DELIVERED-wins, so the expected final state below needs
    # delivery order = production order: space the mtimes one second
    # apart.
    import time
    base = time.time() - 600
    for k, name in enumerate(sorted(os.listdir(src))):
        os.utime(os.path.join(src, name), (base + k, base + k))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = [sys.executable, child, repo, src, ckpt, state, flag]
    first = subprocess.run(run, capture_output=True, text=True, timeout=600)
    assert os.path.exists(flag), first.stderr[-2000:]
    assert first.returncode != 0  # the JVM really died mid-batch
    assert "CLEAN-EXIT" not in first.stdout
    # crash window state: batch 1's snapshot landed durably but was
    # never published - readers still see batch 0's
    sink = UpsertSink(state, key="id", seq_col="val")
    assert sink.current_version() == "v0"
    assert os.path.isdir(os.path.join(state, "v1"))

    second = subprocess.run(run, capture_output=True, text=True, timeout=600)
    assert second.returncode == 0, second.stderr[-2000:]
    assert "CLEAN-EXIT" in second.stdout
    # batch 1 replayed into a fresh generation (never in-place over the
    # torn v1) and the run drained every file: exactly-once final state
    got = {r["id"]: r["val"] for r in sink.current(spark).collect()}
    assert got == {k: (120 if k == 0 else 110 + k) for k in range(10)}
    assert sink.current_version() == "v2"


def test_ann_probe_nan_poison_and_dedupe_order(spark, tmpdir_factory_local):
    """r10 ADVICE regressions on the streaming ANN probe:
    (a) a vector containing a NaN or NULL ELEMENT is dropped by the
        validity filter — cosine over NaN yields NaN, which the
        descending window ranks FIRST, so before the fix such a poison
        vector won a deterministic-but-garbage top-k verdict;
    (b) validity filtering runs BEFORE the in-batch groupBy/max dedupe,
        so a wrong-dimension poison payload that compares greater
        lexicographically cannot beat a VALID vector for the same key
        (before the fix the key silently lost its verdict despite valid
        data arriving in the same micro-batch)."""
    import numpy as np

    from zio_kinesis_example_spark.streaming import UpsertSink, topk_ingest

    Cn = np.array([[1.0, 0.0], [0.0, 1.0]])
    corpus_cells = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.8, 0.6], 0), (3, [0.0, 1.0], 1)],
        "vec_id long, emb array<double>, cell int")
    state = tmpdir_factory_local("annpoison-state")
    sink = UpsertSink(state, key="query_id", seq_col="neighbors")
    ingest = topk_ingest(sink, corpus_cells, Cn, nprobe=2, k=2)

    # (a) NaN element / NULL element / NULL vector: all dropped, only
    # the clean vector gets a verdict
    ingest(spark.createDataFrame(
        [(1, [1.0, 0.0]),
         (2, [float("nan"), 1.0]),
         (3, [None, 1.0]),
         (4, None)],
        "query_id long, emb array<double>"), batch_id=0)
    got = {r.query_id: r.neighbors for r in sink.current(spark).collect()}
    assert set(got) == {1}
    assert got[1] == "1 2"          # exact cosine order in cell 0

    # (b) same-key conflict: the wrong-dimension [9.0] compares greater
    # than the valid [0.0, 1.0] under array ordering, so a
    # dedupe-before-filter would discard the valid row and the key
    # would get NO verdict; filter-before-dedupe keeps it
    ingest(spark.createDataFrame(
        [(5, [9.0]), (5, [0.0, 1.0])],
        "query_id long, emb array<double>"), batch_id=1)
    got = {r.query_id: r.neighbors for r in sink.current(spark).collect()}
    assert got[5] == "3 2"          # the valid vector's verdict


def test_upsert_sink_map_payload_dedupes(spark, tmpdir_factory_local):
    """r10 ADVICE regression: the deterministic seq-tie tiebreak struct
    is built from ORDERABLE columns only — a batch carrying a MapType
    payload column must dedupe and merge without AnalysisException
    (the pre-r9 sink handled maps; the whole-row struct broke that).
    Ties on the orderable prefix still break arbitrarily for map-only
    differences — the documented corner."""
    from zio_kinesis_example_spark.streaming import UpsertSink

    state = tmpdir_factory_local("mapsink-state")
    sink = UpsertSink(state, key="id", seq_col="seq")
    batch = spark.createDataFrame(
        [(1, 1, {"a": 1}), (1, 2, {"b": 2}), (2, 1, {"c": 3})],
        "id long, seq long, payload map<string,int>")
    sink(batch, batch_id=0)
    got = {r.id: (r.seq, dict(r.payload))
           for r in sink.current(spark).collect()}
    assert got == {1: (2, {"b": 2}), 2: (1, {"c": 3})}


def test_upsert_sink_variant_payload_dedupes(spark, tmpdir_factory_local):
    """r11 ADVICE regression: PySpark's VariantType SUBCLASSES
    AtomicType, so the orderable-allowlist passed variants into the
    tiebreak struct — and Spark cannot sort variants (AnalysisException
    DATATYPE_MISMATCH.INVALID_ORDERING_TYPE), crashing the sink's
    dedupe for any batch carrying a variant payload column — the exact
    regression class the allowlist claims to close (its comment even
    names VariantType). Mirrors test_upsert_sink_map_payload_dedupes."""
    import pytest as _pytest

    from pyspark.sql import types as T

    from zio_kinesis_example_spark.streaming import UpsertSink
    from zio_kinesis_example_spark.streaming.sink import _orderable

    if not hasattr(T, "VariantType"):
        _pytest.skip("this PySpark has no VariantType")
    assert _orderable(T.VariantType()) is False
    # and nested occurrences are excluded too, same as maps
    assert _orderable(T.ArrayType(T.VariantType())) is False

    state = tmpdir_factory_local("variantsink-state")
    sink = UpsertSink(state, key="id", seq_col="seq")
    batch = (
        spark.createDataFrame(
            [(1, 1, '{"a": 1}'), (1, 2, '{"b": 2}'), (2, 1, '{"c": 3}')],
            "id long, seq long, js string")
        .select("id", "seq", F.parse_json("js").alias("payload"))
    )
    sink(batch, batch_id=0)
    got = {r.id: (r.seq, str(r.payload))
           for r in sink.current(spark).collect()}
    assert set(got) == {1, 2}
    assert got[1][0] == 2 and '"b"' in got[1][1]
    assert got[2][0] == 1 and '"c"' in got[2][1]


def test_ivf_index_drops_poison_corpus_rows(spark, tmpdir_factory_local,
                                            monkeypatch):
    """r10 review follow-up: the NaN hazard exists on BOTH sides of the
    probe. A corpus row with a NaN element would score cosine NaN
    against every query probing its cell and rank FIRST under the
    descending window — ivf_index must drop malformed corpus rows the
    same way topk_ingest drops malformed arriving ones."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from zio_kinesis_example_spark.operators import llm_similarity as S
    from zio_kinesis_example_spark.streaming import ivf_index, probe_topk

    src = tmpdir_factory_local("poisoncorpus")
    base = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    emb = base.column("embedding").to_pylist()
    ids = base.column("vec_id").to_pylist()
    labels = base.column("label").to_pylist()
    dim = len(emb[0])
    # poison rows: NaN element, null element, wrong dimension
    emb += [[float("nan")] * dim, [None] + [0.5] * (dim - 1), [1.0, 2.0]]
    ids += [900_001, 900_002, 900_003]
    labels += [0, 0, 0]
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": pa.array(emb, type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    }), f"{src}/embeddings.parquet")

    S.clear_ann_cache()
    corpus_cells, Cn = ivf_index(spark, str(src))
    kept = {r.vec_id for r in corpus_cells.select("vec_id").collect()}
    assert kept == set(ids[:-3])          # poison rows dropped
    # a probing query gets a clean verdict — no NaN at rank 1
    q = spark.createDataFrame(
        [(1, [float(x) for x in emb[0]])],
        "query_id long, emb array<double>")
    rows = probe_topk(q, corpus_cells, Cn).collect()
    assert rows and all(r.neighbor_id < 900_000 for r in rows)
    corpus_cells.unpersist()
    S.clear_ann_cache()


def test_smooth_stateful_matches_batch_fold(spark, tmpdir_factory_local):
    """Streaming EWMA/Holt (round 10): the applyInPandasWithState twin
    the batch q_ts_ewma / q_ts_holt docstrings promise. Two waves with
    a restart from the checkpoint between them; the final per-series
    state must equal an independent pure-Python fold over the FULL
    series (the same models the oracle audit uses), and re-running the
    drained stream emits nothing (state restored, not refolded)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    import pandas as pd

    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, decode_json, shard_source, smooth_stateful,
    )

    from .conftest import SF_SMALL

    # hourly count series per event_type from the fixture (driver-side)
    e = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    hourly = (
        e.select(F.col("event_type"),
                 F.date_trunc("hour",
                              F.timestamp_micros(F.expr("ts div 1000")))
                 .alias("h"))
        if dict(e.dtypes).get("ts") == "bigint" else
        e.select("event_type", F.date_trunc("hour", "ts").alias("h"))
    ).groupBy("event_type", "h").count().collect()
    series = {}
    for r in hourly:
        series.setdefault(r.event_type, []).append(
            (int(pd.Timestamp(r.h).value // 1000), float(r["count"])))
    for v in series.values():
        v.sort()
    rows = sorted((t, ord_us, x) for t, vs in series.items()
                  for ord_us, x in vs)
    # a single-point series: Holt's seed is provisional there — the
    # stream must emit l1 = x1 with zero trend, not the zero state
    rows.append(("zz_solo", 1, 7.5))

    src = tmpdir_factory_local("smooth-src")
    ckpt_e = tmpdir_factory_local("smooth-ckpt-ewma")
    ckpt_h = tmpdir_factory_local("smooth-ckpt-holt")
    prod = ShardDirProducer(
        src, n_shards=2, batch_size=50,
        payload_fn=lambda i: {"series_key": rows[i - 1][0],
                              "ord": rows[i - 1][1],
                              "x": rows[i - 1][2]},
    )
    schema = StructType([
        StructField("series_key", StringType()),
        StructField("ord", LongType()),
        StructField("x", DoubleType()),
    ])

    def run(ckpt, beta):
        valid, _ = decode_json(shard_source(spark, src), schema)
        out = []
        q = (
            smooth_stateful(valid.select("series_key", "ord", "x"),
                            alpha=0.4 if beta else 0.3, beta=beta)
            .writeStream.foreachBatch(
                lambda b, i: out.extend(b.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return out

    # wave 1: first 60% of the rows (hour order preserved globally:
    # rows are sorted by (type, hour) and batches split on the sorted
    # prefix, so each key's points arrive in ascending ord)
    cut = int(len(rows) * 0.6)
    prod.produce_all(cut)
    final_e = {r.series_key: r for r in run(ckpt_e, None)}
    final_h = {r.series_key: r for r in run(ckpt_h, 0.3)}
    # wave 2 (restart both from their checkpoints): the rest; update
    # mode re-emits only TOUCHED keys, so the latest row per key is the
    # union of both waves' updates
    prod.produce_all(len(rows), start=cut + 1)
    final_e.update({r.series_key: r for r in run(ckpt_e, None)})
    final_h.update({r.series_key: r for r in run(ckpt_h, 0.3)})

    # independent pure-Python folds over the full series
    for t, vs in series.items():
        xs = [x for _, x in vs]
        s = xs[0]
        for x in xs[1:]:
            s = 0.3 * x + 0.7 * s
        assert final_e[t].n_points == len(xs)
        assert abs(final_e[t].level - s) <= 1e-9, t
        if len(xs) >= 2:
            level, b = xs[0], xs[1] - xs[0]
            for x in xs[1:]:
                l_new = 0.4 * x + 0.6 * (level + b)
                b = 0.3 * (l_new - level) + 0.7 * b
                level = l_new
            assert abs(final_h[t].level - level) <= 1e-9, t
            assert abs(final_h[t].trend - b) <= 1e-9, t
            assert abs(final_h[t].forecast_next - (level + b)) <= 1e-9, t

    solo = final_h["zz_solo"]
    assert (solo.n_points, solo.level, solo.trend,
            solo.forecast_next) == (1, 7.5, 0.0, 7.5)
    assert final_e["zz_solo"].level == 7.5

    # drained stream: nothing re-emitted, state not refolded
    assert run(ckpt_e, None) == []
    assert run(ckpt_h, 0.3) == []

    # wave 3 (r11 — the r10 verdict's order-contract item): rows
    # arriving in a LATER micro-batch at or below the per-key
    # high-watermark must leave state UNCHANGED (not silently fold "as
    # if newest") and be counted dead-letter style. One strictly-late
    # row (t0's first hour re-sent) and one equal-ord row (zz_solo's
    # ord 1 — the ≤ boundary).
    t0 = rows[0][0]
    wave3 = [(t0, series[t0][0][0], 999_999.0), ("zz_solo", 1, -1.0)]
    n_before = len(rows)
    rows.extend(wave3)
    prod.produce_all(len(rows), start=n_before + 1)
    upd_e = {r.series_key: r for r in run(ckpt_e, None)}
    upd_h = {r.series_key: r for r in run(ckpt_h, 0.3)}
    for upd, ref in ((upd_e, final_e), (upd_h, final_h)):
        assert set(upd) == {t0, "zz_solo"}
        for t in upd:
            assert upd[t].n_points == ref[t].n_points, t
            assert upd[t].level == ref[t].level, t
            assert upd[t].trend == ref[t].trend, t
            assert upd[t].forecast_next == ref[t].forecast_next, t
            assert upd[t].n_late == 1, t
    # and a subsequent IN-ORDER point still folds on the uncorrupted
    # state — the watermark drops late rows, never live ones
    rows.append(("zz_solo", 2, 2.5))
    prod.produce_all(len(rows), start=len(rows))
    nxt = {r.series_key: r for r in run(ckpt_e, None)}
    assert nxt["zz_solo"].n_points == 2
    assert abs(nxt["zz_solo"].level - (0.3 * 2.5 + 0.7 * 7.5)) <= 1e-9
    run(ckpt_h, 0.3)                     # keep the Holt checkpoint drained

    # all-poison FIRST batch for a new key (r10 review): null x rows
    # are dropped and the key gets NO fabricated zero row and no state
    import json as _json
    import os

    def emit_file(name, payload):
        with open(os.path.join(src, name), "w") as fh:
            fh.write(_json.dumps({"shard_id": "shard-000",
                                  "partition_key": "p", "seq": 10**6,
                                  "data": _json.dumps(payload)}) + "\n")

    emit_file("extra-poison.json", {"series_key": "pp", "ord": 5})
    out_rows = run(ckpt_e, None)
    assert all(r.series_key != "pp" for r in out_rows)

    # coefficient mismatch on an existing checkpoint fails LOUDLY (r10
    # review: silently folding a mixed model was the alternative)
    emit_file("extra-mismatch.json",
              {"series_key": "view", "ord": 10**15, "x": 1.0})
    import pytest as _pytest

    from pyspark.errors import StreamingQueryException

    def run_wrong_alpha():
        valid, _ = decode_json(shard_source(spark, src), schema)
        q = (smooth_stateful(valid.select("series_key", "ord", "x"),
                             alpha=0.9, beta=None)
             .writeStream.foreachBatch(lambda b, i: b.collect())
             .outputMode("update")
             .option("checkpointLocation", ckpt_e)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    with _pytest.raises(StreamingQueryException):
        run_wrong_alpha()


def test_smooth_stateful_nonfinite_order_key_is_poison(
        spark, tmpdir_factory_local):
    """r12 (ADVICE): an order key of +inf must be dropped as POISON —
    not folded — because folding it would set the persisted watermark
    to +inf and drop every later row for the key as 'late' forever;
    and an ord of -inf on a FRESH key must not be mis-dropped against
    the -inf initial watermark (it is poison too, costing its own row,
    never the key)."""
    import json as _json
    import os

    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    from zio_kinesis_example_spark.streaming import (
        decode_json, shard_source, smooth_stateful,
    )

    src = tmpdir_factory_local("smooth-infsrc")
    ckpt = tmpdir_factory_local("smooth-infckpt")
    schema = StructType([
        StructField("series_key", StringType()),
        StructField("ord", DoubleType()),
        StructField("x", DoubleType()),
    ])
    seq = [0]

    def emit(payloads):
        seq[0] += 1
        with open(os.path.join(src, f"w{seq[0]:03d}.json"), "w") as fh:
            for i, p in enumerate(payloads):
                fh.write(_json.dumps({
                    "shard_id": "shard-000", "partition_key": "p",
                    "seq": seq[0] * 100 + i,
                    "data": _json.dumps(p)}) + "\n")

    def run():
        valid, _ = decode_json(shard_source(spark, src), schema)
        out = []
        q = (smooth_stateful(valid.select("series_key", "ord", "x"),
                             alpha=0.3, beta=None)
             .writeStream.foreachBatch(lambda b, i: out.extend(b.collect()))
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {r.series_key: r for r in out}

    emit([{"series_key": "k", "ord": 1.0, "x": 10.0}])
    assert run()["k"].level == 10.0

    # +inf ord alongside a live in-order row: the inf row is poison
    # (dropped, NOT counted late, does NOT move the watermark), the
    # live row folds
    emit([{"series_key": "k", "ord": float("inf"), "x": 999.0},
          {"series_key": "k", "ord": 2.0, "x": 5.0},
          {"series_key": "neg", "ord": float("-inf"), "x": 1.0}])
    upd = run()
    assert upd["k"].n_points == 2
    assert abs(upd["k"].level - (0.3 * 5.0 + 0.7 * 10.0)) <= 1e-9
    assert upd["k"].n_late == 0          # poison, not late
    # all-poison first batch for 'neg': no fabricated row, no state
    assert "neg" not in upd

    # the watermark survived: a later in-order row still folds (with a
    # poisoned +inf watermark it would be dropped as late)
    emit([{"series_key": "k", "ord": 3.0, "x": 1.0}])
    nxt = run()
    assert nxt["k"].n_points == 3
    assert nxt["k"].n_late == 0
