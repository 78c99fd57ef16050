"""Checkpoint file manager of the library's local sessions.

``session.get_spark`` starts every streaming query on Spark's
``FileSystemBasedCheckpointFileManager`` (see the ``session`` module
docstring). These tests pin that the conf reaches the query's metadata
logs and that the manager keeps the no-overwrite contract the logs'
at-least-once recovery rests on. The restart, redelivery and JVM-kill
tests in ``test_streaming.py`` cover the same manager end to end.
"""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

_FS_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
               "FileSystemBasedCheckpointFileManager")


def test_drain_logs_use_filesystem_manager(spark, tmpdir_factory_local,
                                           monkeypatch):
    """After a ``consume_observed`` drain the query's offset log and
    commit log were written through the FileSystem-based manager, and
    ``sources/0`` holds the file source's log."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from zio_kinesis_example_spark.streaming import (
        ShardDirProducer, consume_observed, decode_json, shard_source,
    )

    started = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        q = real_start(self, *args, **kwargs)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)
    src = tmpdir_factory_local("ckmgr-src")
    ckpt = tmpdir_factory_local("ckmgr-ckpt")
    n = 1_000
    ShardDirProducer(src, n_shards=2, batch_size=250).produce_all(n)
    valid, _ = decode_json(shard_source(spark, src,
                                        max_files_per_trigger=2))
    res = consume_observed(valid, ckpt)
    assert not res.failed, res.error
    assert res.processed == n

    assert len(started) == 1
    execution = started[0]._jsq.streamingQuery()
    for log in (execution.offsetLog(), execution.commitLog()):
        assert log.fileManager().getClass().getName() == _FS_MANAGER
    logged = {}
    for sub in ("offsets", "commits", os.path.join("sources", "0")):
        logged[sub] = sorted(int(f) for f in os.listdir(
            os.path.join(ckpt, sub)) if not f.startswith("."))
    # 4 files at 2 per trigger: batches 0 and 1 in all three logs
    assert logged == dict.fromkeys(logged, [0, 1])


def test_second_atomic_writer_is_refused(spark, tmpdir_factory_local):
    """A second ``createAtomic(path, overwriteIfPossible=False)`` writer
    to an existing batch file fails with a ``FileAlreadyExistsException``
    and the first writer's content stays: a restarted query can never
    overwrite a batch its predecessor already logged."""
    jvm = spark.sparkContext._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    log_dir = tmpdir_factory_local("ckmgr-atomic")
    path = jvm.org.apache.hadoop.fs.Path(f"file://{log_dir}/0")
    fm = (jvm.org.apache.spark.sql.execution.streaming.checkpointing
          .CheckpointFileManager.create(path.getParent(), hconf))
    assert fm.getClass().getName() == _FS_MANAGER

    first = fm.createAtomic(path, False)
    first.write(bytearray(b"first"))
    first.close()
    second = fm.createAtomic(path, False)
    second.write(bytearray(b"second writer"))
    with pytest.raises(Py4JJavaError) as err:
        second.close()
    exists_exc = jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists_exc.isInstance(err.value.java_exception)

    with open(os.path.join(log_dir, "0"), "rb") as f:
        assert f.read() == b"first"
