"""Typed loaders for the driver-generated testdata tables (TESTDATA.md,
FIXTURES.md §B).

Every table but ``events`` has a *declared* schema (``SCHEMAS``),
mirroring the reference's static nominal schema stance (case class +
compile-time codec, reference TestMsgJsonSerde.scala:9, TestMsg.scala:3).
A declared read starts no Spark job; an inferred one runs a one-task
parquet-footer job on every call. ``tests/test_catalog.py`` compares each
declared schema with the footers of every data copy, so drift fails a
test instead of being silently accepted, and a column whose footer type
the declared one cannot read fails the scan.

``events`` stays inferred: the unit of its ``ts`` column depends on the
producer (TIMESTAMP(NANOS) per FIXTURES.md, µs in every copy generated so
far). A declared ``timestamp_ntz`` read fails on a NANOS file, and a
declared ``bigint`` read cannot tell the two units apart; inference does.

Scale note: loaders return plain ``spark.read.parquet`` scans so Catalyst
keeps full pushdown/pruning freedom — no caching, no collect. At 100 TB the
same code path reads a partitioned lake; only ``sf_dir`` changes, and a
declared schema also spares the footer read that inference does there.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType, TimestampNTZType,
)

from .session import RUNTIME_CONFS

TABLES: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_I, _L, _D, _S = IntegerType(), LongType(), DoubleType(), StringType()
_TS = TimestampNTZType()

#: Declared schemas: Spark's own inferred schema of each table (same types,
#: same column order, every column nullable as Spark reports it).
SCHEMAS: dict[str, StructType] = {
    name: StructType([StructField(c, t, True) for c, t in cols])
    for name, cols in {
        "region": [("r_regionkey", _I), ("r_name", _S)],
        "nation": [("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)],
        "customer": [("c_custkey", _L), ("c_name", _S), ("c_nationkey", _I),
                     ("c_acctbal", _D), ("c_mktsegment", _S)],
        "supplier": [("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I),
                     ("s_acctbal", _D)],
        "part": [("p_partkey", _L), ("p_name", _S), ("p_brand", _S),
                 ("p_type", _S), ("p_size", _I), ("p_retailprice", _D)],
        "orders": [("o_orderkey", _L), ("o_custkey", _L),
                   ("o_orderstatus", _S), ("o_totalprice", _D),
                   ("o_orderdate", _TS), ("o_orderpriority", _S)],
        "lineitem": [("l_orderkey", _L), ("l_partkey", _L), ("l_suppkey", _L),
                     ("l_linenumber", _I), ("l_quantity", _D),
                     ("l_extendedprice", _D), ("l_discount", _D),
                     ("l_tax", _D), ("l_returnflag", _S),
                     ("l_linestatus", _S), ("l_shipdate", _TS)],
        "documents": [("doc_id", _L), ("text", _S), ("lang", _S),
                      ("source", _S), ("n_chars", _L)],
        "embeddings": [("vec_id", _L), ("embedding", ArrayType(FloatType())),
                       ("label", _I)],
    }.items()
}

#: SparkSession objects already configured — configure() used to re-issue
#: its conf.set py4j round trips on EVERY load() call (thousands per
#: sweep, r8 review); one pass per session is enough (queries never
#: change these confs mid-session). Keyed by SESSION IDENTITY, not
#: applicationId (r9 advice): cloned sessions (SparkSession.newSession /
#: a separate SQLConf) share one applicationId but carry their OWN conf,
#: and an appId key would silently skip the correctness-bearing runtime
#: confs (nanosAsLong, UTC timezone, broadcast threshold) on the clone.
#: A WeakSet so dead session wrappers never pin memory.
_CONFIGURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _is_cannot_modify(exc: Exception) -> bool:
    """True iff ``exc`` is Spark's you-may-not-set-a-static-conf error.

    Matched by error CLASS first (``CANNOT_MODIFY_CONFIG`` — stable
    across Spark releases via the error-class framework; PySpark 4
    exposes it as ``getCondition()``, older as ``getErrorClass()``),
    with the message-substring check only as a fallback for exception
    types that carry no class accessor (r9 advice: a release that
    rewords the message must not turn the benign static-conf case into
    a hard raise at query time)."""
    for accessor in ("getCondition", "getErrorClass"):
        fn = getattr(exc, accessor, None)
        if callable(fn):
            try:
                cls = fn()
            except Exception:
                cls = None
            if cls is not None and "CANNOT_MODIFY_CONFIG" in str(cls):
                return True
    # FALL THROUGH on a non-matching class (r9 review): legacy Spark
    # spells this error with a _LEGACY_ERROR_TEMP_* class and only the
    # message identifies it — an early `return False` there would
    # hard-raise the exact benign case this function exists to tolerate.
    return ("CANNOT_MODIFY_CONFIG" in str(exc)
            or "Cannot modify" in str(exc))


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to a session we may not have created
    (the driver passes its own SparkSession into ``queries()`` callables).
    Memoized per session object; only the cannot-modify-static-conf case
    is tolerated (r8 review: a blanket except swallowed genuinely
    invalid values, e.g. a bad timezone string, leaving the session
    silently misconfigured and every timestamp oracle mysteriously
    red)."""
    if spark in _CONFIGURED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            if not _is_cannot_modify(exc):
                raise
    _CONFIGURED.add(spark)
    return spark


def path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with normalized column types.

    A table in ``SCHEMAS`` is read with its declared schema. ``events`` is
    inferred: when its ``ts`` is stored as parquet TIMESTAMP(NANOS), Spark
    reads it as int64 ns (``nanosAsLong``) and we convert to timestamp_ntz
    at µs precision — the same truncation DuckDB applies, so oracle
    comparisons agree; a µs ``ts`` already reads as timestamp_ntz.
    """
    configure(spark)
    if name in SCHEMAS:
        return spark.read.schema(SCHEMAS[name]).parquet(path(sf_dir, name))
    df = spark.read.parquet(path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for spark.sql-based queries,
    e.g. GROUPING SETS which has no DataFrame-API equivalent)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)

#: DuckDB WITH-fragment mirroring ``operators.llm_similarity.emb_table``
#: (the r12 malformed-vector contract): prepend inside an oracle's WITH
#: list and read FROM emb_valid instead of embeddings. Lives here (not
#: in llm_similarity) only to stay importable from llm_dedup, which
#: llm_similarity itself imports at module level. Majority-dim
#: tie-break (count DESC, d ASC) matches _majority_dim.
EMB_VALID_SQL = """
        embdim AS (
            SELECT len(embedding) AS d FROM embeddings
            WHERE embedding IS NOT NULL
            GROUP BY 1 ORDER BY count(*) DESC, d LIMIT 1),
        emb_valid AS (
            SELECT vec_id, embedding, label FROM embeddings, embdim
            WHERE embedding IS NOT NULL AND len(embedding) = d
              AND len(list_filter(embedding, x ->
                    x IS NULL OR isnan(x) OR isinf(x))) = 0)"""
