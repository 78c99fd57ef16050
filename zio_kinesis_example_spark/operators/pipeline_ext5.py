"""Round-5 (fifth wave) pipeline extensions — deliberately small: round 5
holds the registry nearly still so the driver's budget certifies the
round-4 backlog (VERDICT r4 item 1). Four additions, all inside the
~5-query cap:

- ``q_multimodal_decode_ppm``  encode → decode round-trip through a
                               genuine binary PPM (P6) file. BMP proved
                               fixed-layout parsing (little-endian headers,
                               padded strides, signed orientation); PPM
                               proves the other real-world parse hazard —
                               a variable-length ASCII header tokenized
                               through whitespace runs and '#'-comments.
                               Kernels live in ``multimodal.py`` beside the
                               BMP pair; registration lives here so the
                               unverified-first serve order keeps older
                               backlog ahead of it.
- ``q_shuffle_epoch``          deterministic global shuffle for a training
                               epoch: hash-keyed shard assignment + within-
                               shard position (the materialization every
                               large-scale trainer performs per epoch).
- ``q_split_assign``           stable content-hash train/val/test split —
                               the assignment that survives recrawls and
                               prevents exact-dup split leakage.
- ``q_text_seqlen_buckets``    fixed-menu sequence-length bucketing with
                               padding-waste accounting — the batching-
                               efficiency audit in front of any packing
                               decision (q_text_pack's companion report).

Registered after pipeline_ext4 (registry import order).

Reference parity note: the reference (zio-kinesis-example) has no batch
surface — this module is north-star surface mandated by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import query
from .llm_dedup import _H0_DUCK, _H0_SPARK
from .multimodal import (
    PPM_DECODE_SCHEMA, binary_docs, ppm_decode_batch, ppm_encode_batch,
)


# Oracle mirror of the PPM round trip: the header is a per-class constant
# (class 2's embeds a comment line the decoder must skip), the RGB plane is
# unpadded row-major, and every plane byte is text byte (k mod len) — so
# the layout columns are CASE arithmetic and the sums are cyclic byte sums
# over the ascii text, exactly the q_multimodal_decode_bmp proof pattern.
def _ppm_oracle() -> str:
    w = "CASE doc_id % 3 WHEN 0 THEN 17 WHEN 1 THEN 24 ELSE 31 END"
    h = "CASE doc_id % 3 WHEN 0 THEN 7 WHEN 1 THEN 10 ELSE 13 END"
    hl = "CASE doc_id % 3 WHEN 0 THEN 12 WHEN 1 THEN 13 ELSE 17 END"
    from .multimodal import cyclic_text_sum_sql
    return f"""
        SELECT doc_id,
               TRUE AS ppm_ok,
               CAST(({hl}) + 3 * ({w}) * ({h}) AS BIGINT) AS n_bytes,
               CAST({w} AS INT) AS width,
               CAST({h} AS INT) AS height,
               255 AS maxval,
               CAST({hl} AS INT) AS header_len,
               CAST({cyclic_text_sum_sql(f"({w}) * 3")} AS BIGINT) AS row0_sum,
               CAST({cyclic_text_sum_sql(f"({w}) * 3 * ({h})")} AS BIGINT)
                   AS pixel_sum
        FROM documents WHERE text IS NOT NULL
    """


@query("q_multimodal_decode_ppm", oracle=_ppm_oracle(),
       tags=("multimodal", "north-star"))
def q_multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-format decode #2: encode each document into a genuine binary
    PPM (P6) file (``ppm_encode_batch``), then parse it back with the
    dependency-free decoder (``ppm_decode_batch`` — magic check, then a
    vectorized per-byte state machine tokenizing width/height/maxval
    through arbitrary whitespace and '#'-comment runs).

    The DuckDB oracle recomputes every output column from first
    principles (constant per-class header lengths + cyclic text-byte
    sums), so a hash match proves the tokenizer really parsed the
    header: any off-by-one in the comment skip, token boundary, or
    data-offset placement shifts header_len and both sums. Size class
    2's header embeds a comment, so comment handling sits on the
    hash-checked path.

    Scale shape: ONE fused ``mapInPandas`` stage (multimodal.
    fused_round_trip — one Python worker per task, encoded bytes never
    re-cross the JVM boundary) over SPREAD partitions (the
    materialize.spread rule: a single-parquet-file scan would run the
    whole codec on one core — measured 2.7 s cold / load-sensitive vs
    ~1.2 s spread at sf0.1); Arrow batches stream through numpy
    flat-buffer passes, constant memory per task, no per-row Python."""
    from .materialize import spread
    from .multimodal import fused_round_trip

    return spread(spark, binary_docs(spark, sf_dir)
                  .select("doc_id", "payload")) \
        .mapInPandas(fused_round_trip(ppm_encode_batch, ppm_decode_batch),
                     schema=PPM_DECODE_SCHEMA)


# --------------------------------------------------------------------------
# q_shuffle_epoch — deterministic epoch shuffle (shard + position)
# --------------------------------------------------------------------------
_EPOCH_SEED = "ep1:"
_EPOCH_SHARDS = 8


@query(
    "q_shuffle_epoch",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   {_H0_DUCK.format(c=f"'{_EPOCH_SEED}' || doc_id")} AS h
            FROM documents
        )
        SELECT doc_id,
               CAST(h % {_EPOCH_SHARDS} AS INT) AS shard,
               CAST(row_number() OVER (PARTITION BY h % {_EPOCH_SHARDS}
                                       ORDER BY h, doc_id) AS BIGINT) AS pos,
               h AS shuffle_key
        FROM s
    """,
    tags=("sampling", "layout", "north-star"),
)
def q_shuffle_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for one training epoch: every
    document gets a pseudorandom-but-reproducible 60-bit key (portable
    md5 basis seeded by the epoch tag), a shard = key mod N, and a
    position within its shard — exactly the (file, offset) layout a
    large-scale trainer materializes per epoch so that data order is
    reproducible across restarts and independent of input layout.
    Changing the seed string permutes the corpus afresh.

    Scale shape: the key is a stateless projection; the only shuffle is
    the per-shard window sort — N independent sorts of corpus/N rows
    (range-partition-friendly, no global single-partition window, which
    is the trap a naive ORDER BY row_number() epoch shuffle falls into).
    At 100 TB, shards map to output files and the within-shard sort is
    the write-side sort the files need anyway.
    """
    d = load(spark, sf_dir, "documents")
    h = F.expr(_H0_SPARK.format(
        c=f"concat('{_EPOCH_SEED}', cast(doc_id as string))"))
    keyed = d.select("doc_id", h.alias("shuffle_key"),
                     (h % _EPOCH_SHARDS).cast("int").alias("shard"))
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id", "shard",
        F.row_number().over(w).cast("long").alias("pos"),
        "shuffle_key",
    )


# --------------------------------------------------------------------------
# q_split_assign — stable content-hash train/val/test split
# --------------------------------------------------------------------------
_SPLIT_BUCKETS = 10_000
_SPLIT_TRAIN = 9_800   # buckets [0, 9800) → train (98 %)
_SPLIT_VAL = 9_900     # buckets [9800, 9900) → val (1 %); rest test


@query(
    "q_split_assign",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   {_H0_DUCK.format(c="text")} % {_SPLIT_BUCKETS} AS bucket
            FROM documents
        )
        SELECT doc_id,
               CAST(bucket AS INT) AS bucket,
               CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
                    WHEN bucket < {_SPLIT_VAL} THEN 'val'
                    ELSE 'test' END AS split
        FROM s
    """,
    tags=("sampling", "curation", "north-star"),
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable train/val/test assignment by CONTENT hash: bucket =
    hash(text) mod 10k, split by fixed bucket ranges (98/1/1). Keying on
    content rather than doc_id or random() gives the two properties an
    eval split must have: the assignment survives recrawls and
    re-partitioning (same text → same split forever), and exact
    duplicates can never straddle train and test (the cheapest form of
    decontamination, composing with q_curate_decontaminate for the
    fuzzy-overlap cases).

    Scale shape: a stateless projection — no shuffle, no state; the
    split ratio is enforced in expectation by hash uniformity, which is
    how every production splitter does it at corpus scale.
    """
    d = load(spark, sf_dir, "documents")
    # reuse the expression variable rather than F.col("bucket"): the
    # lateral-column-alias lookup would silently rebind to a source
    # column if documents ever gained a `bucket` field
    bucket = (F.expr(_H0_SPARK.format(c="text")) % _SPLIT_BUCKETS) \
        .cast("int")
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test").alias("split"),
    )


# --------------------------------------------------------------------------
# q_text_seqlen_buckets — sequence-length bucketing + padding waste
# --------------------------------------------------------------------------
_SEQLEN_MENU = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096)


def _seqlen_case(col: str) -> str:
    """Smallest menu bucket ≥ token count, as an explicit CASE ladder:
    a FIXED bucket menu (not ceil(log2)) because trainers pad to a
    configured set of sequence lengths — and because the integer CASE
    is engine-identical by construction (no float log at power-of-two
    boundaries)."""
    branches = " ".join(
        f"WHEN {col} <= {b} THEN {b}" for b in _SEQLEN_MENU)
    return f"CASE {branches} ELSE {2 * _SEQLEN_MENU[-1]} END"


@query(
    "q_text_seqlen_buckets",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        b AS (
            SELECT doc_id, n_tokens,
                   CAST({_seqlen_case("n_tokens")} AS BIGINT) AS bucket
            FROM t
        )
        -- EVERY doc longer than the top menu length pads zero (r9
        -- review: the least() clamp only zeroed docs >= 2*top, so
        -- 4097..8191-token docs fabricated pad-to-8192 waste the
        -- truncating trainer never pays)
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(SUM(CASE WHEN n_tokens > {_SEQLEN_MENU[-1]} THEN 0
                             ELSE bucket - n_tokens END) AS BIGINT)
                   AS padding_waste,
               round(CAST(SUM(CASE WHEN n_tokens > {_SEQLEN_MENU[-1]}
                                   THEN 0 ELSE bucket - n_tokens END)
                          AS DOUBLE)
                     / (bucket * COUNT(*)), 6) + 0.0 AS waste_frac
        FROM b GROUP BY bucket
    """,
    tags=("text", "layout", "north-star"),
)
def q_text_seqlen_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing audit: whitespace-token counts binned
    to a fixed power-of-two length menu (16…4096, the lengths a trainer
    actually pads to), reporting per-bucket document count, token mass,
    absolute padding waste (bucket_len − tokens summed), and the waste
    fraction of the padded token budget — the report that decides
    whether packing (q_text_pack) is worth running and which buckets to
    pack first.

    DETERMINISM: all-integer bucketing and sums; the single double
    division is one identical op on exactly-agreed operands, rounded
    6dp with negative-zero normalization. Overflow-bucket docs (longer
    than the top menu length) count zero padding — the trainer
    truncates them, it does not pad.

    Scale shape: stateless projection + ONE partial-agged groupBy on a
    ≤10-value key — map-side combine collapses the corpus to |menu|
    rows per task before the (tiny) shuffle.
    """
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    b = t.select(
        "n_tokens",
        F.expr(_seqlen_case("n_tokens")).cast("long").alias("bucket"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            # EVERY doc longer than the top menu length pads ZERO —
            # the trainer truncates it (r9 review: the r8 least() clamp
            # only covered docs >= 2·top, so a 4097-token doc fabricated
            # 8192−4097 of waste the truncating trainer never pays)
            F.sum(F.when(F.col("n_tokens") > _SEQLEN_MENU[-1], F.lit(0))
                  .otherwise(F.col("bucket") - F.col("n_tokens")))
            .alias("padding_waste"),
        )
        .select(
            "bucket", "n_docs", "sum_tokens", "padding_waste",
            (F.round(
                F.col("padding_waste").cast("double")
                / (F.col("bucket") * F.col("n_docs")), 6) + F.lit(0.0)
             ).alias("waste_frac"),
        )
    )
