"""catalog.load: declared schemas against every data copy's footers, no
Spark job on a declared load, and the events TIMESTAMP(NANOS) branch."""

from __future__ import annotations

import glob
import os
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from zio_kinesis_example_spark import catalog

from .conftest import SF_SMALL

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: every data copy on disk: the driver's test data and the benchmark's own
COPIES = sorted(glob.glob("/root/testdata/sf*")
                + glob.glob(os.path.join(_REPO, "perfbench", "data", "sf*")))


def _jobs_started(spark, action) -> list[int]:
    """Ids of the Spark jobs ``action()`` starts, read by job group from
    the status tracker. The listener bus that feeds the tracker is
    asynchronous but delivers job starts in order, so a fence job in a
    second group is run and awaited before the first group is read."""
    sc = spark.sparkContext
    group = f"catalog-probe-{uuid.uuid4().hex}"
    fence = f"{group}-fence"
    try:
        sc.setJobGroup(group, "catalog.load probe")
        action()
        sc.setJobGroup(fence, "catalog.load probe fence")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(fence):
        assert time.monotonic() < deadline, "fence job never reported"
        time.sleep(0.05)
    return list(tracker.getJobIdsForGroup(group))


def test_data_copies_found():
    assert len(COPIES) >= 2, COPIES


@pytest.mark.parametrize("sf_dir", COPIES, ids=os.path.basename)
def test_declared_schemas_match_every_copy(spark, sf_dir):
    """Each declared schema is what Spark infers from the copy's footers:
    same column order, types and nullability."""
    assert set(catalog.SCHEMAS) == set(catalog.TABLES) - {"events"}
    for name, declared in catalog.SCHEMAS.items():
        inferred = spark.read.parquet(catalog.path(sf_dir, name)).schema
        assert declared == inferred, (sf_dir, name, inferred.simpleString())


def test_declared_load_starts_no_job(spark):
    frames = []
    jobs = _jobs_started(spark, lambda: frames.extend(
        catalog.load(spark, SF_SMALL, t) for t in catalog.SCHEMAS))
    assert jobs == []
    assert [f.schema for f in frames] == list(catalog.SCHEMAS.values())
    # the probe sees the one footer job an inferred read still runs
    assert _jobs_started(spark,
                         lambda: catalog.load(spark, SF_SMALL, "events"))


def test_undeclared_column_type_fails_the_scan(spark, tmp_path):
    """A copy whose footer holds a type the declared one cannot read
    (float64 vectors, int64 labels) fails loudly, not as silent drift."""
    pq.write_table(pa.table({
        "vec_id": pa.array([1, 2], type=pa.int64()),
        "embedding": pa.array([[0.5, 1.0], [1.5, 2.0]],
                              type=pa.list_(pa.float64())),
        "label": pa.array([0, 1], type=pa.int64()),
    }), catalog.path(str(tmp_path), "embeddings"))
    df = catalog.load(spark, str(tmp_path), "embeddings")
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        df.collect()


def test_nanos_events_load_like_the_micros_copy(spark, tmp_path):
    """events written with TIMESTAMP(NANOS) ``ts`` (the FIXTURES.md unit)
    load as the same timestamp_ntz values as the µs copy; a sub-µs part
    is truncated, as DuckDB does."""
    t = pq.read_table(catalog.path(SF_SMALL, "events"))
    i = t.schema.get_field_index("ts")
    us = t.column(i).cast(pa.int64())
    ns = pc.add(pc.multiply(us, 1000), 999)
    t = t.set_column(i, "ts", ns.cast(pa.timestamp("ns")))
    pq.write_table(t, catalog.path(str(tmp_path), "events"))
    assert (pq.read_schema(catalog.path(str(tmp_path), "events"))
            .field("ts").type == pa.timestamp("ns"))

    nanos = catalog.load(spark, str(tmp_path), "events")
    micros = catalog.load(spark, SF_SMALL, "events")
    assert dict(nanos.dtypes)["ts"] == "timestamp_ntz"
    assert nanos.schema == micros.schema
    assert (nanos.orderBy("event_id").collect()
            == micros.orderBy("event_id").collect())
