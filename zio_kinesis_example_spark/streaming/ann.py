"""Streaming ANN probe: per-micro-batch top-k lookup of arriving
vectors against the persisted trained IVF index (round 9).

Composes two existing contracts:
- the trained-index registry (`operators/llm_similarity._ivf_centroids`
  — disk-persisted with FAISS write_index/read_index parity, so a fresh
  driver process loads the index instead of retraining), and
- the resumable micro-batch ingest loop (reference anchor:
  CheckpointOnChunksTest.scala:37-47 — chunked consumption resumes from
  the checkpoint after process death), with results landing in the
  idempotent keyed `UpsertSink` (sink.py).

Restart safety: every probe result is a DETERMINISTIC function of
(arriving vector, trained index) — ties break on neighbor_id, the index
is frozen driver/broadcast state — so at-least-once replay of a killed
batch upserts byte-identical rows and the final state after any
kill/restart sequence equals the single-run state. Verified in
tests/test_streaming.py.

Scale shape: the corpus index (cell-keyed, persisted once per stream)
never rebuilds per batch; each micro-batch pays one cell-keyed
equi-join of |batch|·nprobe exploded probes against the probed cells
only — the q_sim_range_search_ann / IVF shape with the batch as the
query side. At 100 TB the corpus-cells frame is a bucketed table and
arriving vectors join the same way; nothing in the loop scans the
corpus per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import llm_similarity as _sim


def ivf_index(spark: SparkSession, sf_dir: str,
              train_iters: int | None = None,
              nlist: int | None = None):
    """The frozen search-time index: (corpus_cells, Cn).

    ``corpus_cells`` is the corpus keyed by its single nearest trained
    cell (persisted — probed by every micro-batch, built once);
    ``Cn`` is the row-normalized centroid matrix (O(nlist·dim) driver
    floats, shipped in the assign UDF's closure). Centroids come from
    the persisted trained-index store when present — a fresh session
    runs ZERO training jobs."""
    from ..operators.materialize import persist, spread

    if train_iters is None:
        train_iters = _sim._IVF_TRAIN_ITERS
    if nlist is None:
        nlist = _sim._IVF_NLIST
    e = _sim._emb(spark, sf_dir)
    # Corpus validity BEFORE training (r10 review): a ragged or
    # NaN-element corpus row would crash the trainer's np.stack — or,
    # worse, poison rank 1 of every verdict probing its cell (NaN
    # cosine ranks FIRST descending). The expected dimension is the
    # corpus majority (one tiny aggregate, descriptive error on an
    # empty/all-null corpus — r11 ADVICE); malformed rows are dropped
    # from BOTH the training sample (now enforced INSIDE
    # _ivf_centroids, so batch plans train on the same cleaned sample
    # under the shared artifact key — r11 ADVICE) and the persisted
    # cells.
    e = e.filter(_valid_emb(_sim._majority_dim(e)))
    C = _sim._ivf_centroids(spark, sf_dir, e, train_iters, nlist)
    Cn = _sim._normalized_centroids(C)
    # tracked persist (r9 review): clear_shared_cache() releases the
    # frame, and a long-lived driver that builds many stream indexes
    # keeps at most materialize.LOOSE_CAP of them (oldest dropped
    # first) — an untracked persist would pin executor storage until
    # session death.
    # spread (r10, the r6 per-file-kernel rule): the per-batch probe's
    # exact-cosine arithmetic runs against these persisted partitions —
    # a single-file corpus would pin every micro-batch to one core.
    corpus_cells = persist(
        spread(spark, e)
        .withColumn("cells", _sim._ivf_assign_udf(Cn, 1)(F.col("emb")))
        .select("vec_id", "emb", F.element_at("cells", 1).alias("cell"))
    )
    return corpus_cells, Cn


#: shared with the centroid trainer (r11: one validity definition for
#: both the streaming probe and batch training — see llm_similarity)
_valid_emb = _sim._valid_emb


def probe_topk(queries: DataFrame, corpus_cells: DataFrame, Cn,
               nprobe: int = 3, k: int = 5) -> DataFrame:
    """Exact-cosine top-k of each query row against the probed cells of
    the frozen index — one cell-keyed equi-join, deterministic
    (score desc, neighbor_id asc). ``queries``: (query_id, emb).

    MALFORMED vectors are DROPPED before the assign UDF (r9 review:
    decode_json only requires the schema's FIRST field, so a payload
    like '{"query_id": 7}' flows in with emb NULL — np.stack on a None,
    or a wrong-dimension vector in the dgemm, would crash the UDF and
    wedge the stream in a permanent replay-crash loop; a poison record
    must cost its own verdict, never the stream).

    NO self-exclusion (r9 review): arriving query ids are their OWN
    namespace — an external id that happens to collide with a corpus
    vec_id is an unrelated entity, and FAISS search excludes nothing.
    (The registry ANN plans exclude self because there the query set IS
    corpus rows; that logic stays in llm_similarity.)"""
    nprobe = min(nprobe, Cn.shape[0])
    dim = int(Cn.shape[1])
    q = (
        queries.filter(_valid_emb(dim))
        .withColumn(
            "cells", _sim._ivf_assign_udf(Cn, nprobe)(F.col("emb")))
        .select(F.col("query_id"), F.col("emb").alias("qe"),
                F.explode("cells").alias("cell"))
    )
    cand = (
        corpus_cells.join(q, "cell")
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                _sim.cosine("qe", "emb").alias("s"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk")
    )


def topk_ingest(sink, corpus_cells: DataFrame, Cn,
                nprobe: int = 3, k: int = 5):
    """foreachBatch callable: probe each arriving vector against the
    frozen index and upsert ONE row per query —
    (query_id, neighbors = rank-ordered neighbor ids) — into ``sink``
    (UpsertSink keyed by query_id). Serializing the top-k to a string
    makes the upsert row atomic: a replayed batch rewrites the whole
    verdict, never a partial rank set.

    IN-BATCH dedupe per key (r9 review): an at-least-once source can
    re-deliver the same record twice inside ONE micro-batch — without
    the dedupe the doubled candidates would window-rank as A,A,B,B,C
    and the verdict string would garble. One vector per key per batch,
    greatest payload wins on a genuine same-key conflict (deterministic
    — the asof/UpsertSink tie convention; array ordering is
    lexicographic), matching what the sink itself would keep.

    VALIDITY BEFORE DEDUPE (r10 review): the malformed-vector filter
    runs before the groupBy/max, not only inside probe_topk — otherwise
    a wrong-dimension poison payload that compares greater (e.g. a
    large first element) beats a VALID vector for the same key within
    one batch and the key silently loses its verdict despite valid
    data arriving."""
    dim = int(Cn.shape[1])

    def ingest(batch: DataFrame, batch_id: int) -> None:
        queries = (batch.filter(_valid_emb(dim))
                   .groupBy("query_id").agg(F.max("emb").alias("emb")))
        topk = probe_topk(queries, corpus_cells, Cn, nprobe=nprobe, k=k)
        verdicts = (
            topk.groupBy("query_id")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct("rnk", "neighbor_id"))),
                    lambda s: s["neighbor_id"].cast("string")),
                " ").alias("neighbors"))
        )
        sink(verdicts, batch_id)

    return ingest
