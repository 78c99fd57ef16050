"""Scale-proxy harness for the ANN family (r10: the nlist ∝ √n dial).

Rebuilds the rolled-copy proxy corpora the r8/r9 BASELINE.md scale
tables used — copy k of the sf0.1 embeddings table rolls each 64-d
vector by (7·k mod 64) positions (norm-preserving, decorrelated from
the original) and offsets vec_id by k·n — then measures the IVF-composed
plans at several ``nlist`` values per scale:

- **candidate fraction**: Σ_q Σ_{probed cells} |cell| / (n·|Q|),
  computed from the cell histogram (no materialized candidate join);
  the claim under test is fraction ≈ nprobe/nlist independent of n.
- **radius recall / false positives**: `_range_search_ann_plan`
  restricted to a bounded query sample (vec_id % qmod = 0) against the
  exact radius truth computed driver-side in numpy (float prefilter,
  exact-integer border decision — the conservative-prefilter pattern).
- **ivfpq recall@5**: `_ann_ivfpq_plan` vs the exact float-cosine top-5
  on the same sample.
- **wall**: two timed `count()` runs of the full plan (first = cold
  index for that nlist, second = warm registry).

Run:  python -m zio_kinesis_example_spark.tools.scale_proxy \
          [copies ...] [--nlists 32,64,128]
Writes one JSON line per (scale, nlist) to stdout; BASELINE.md carries
the digested table.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1/embeddings.parquet"
SCALE = 1_000_000


def build_proxy(out_dir: str, copies: int, src: str = SRC) -> str:
    """Rolled-copy corpus: copies × |src| rows under out_dir.

    Reuse guard (r10 review): an existing dest is reused ONLY if it
    holds exactly ``copies`` part files — a killed build or a
    different-copies build is torn down and rebuilt, never silently
    served at the wrong n."""
    import shutil

    dest = os.path.join(out_dir, "embeddings.parquet")
    if os.path.isdir(dest):
        have = [f for f in os.listdir(dest) if f.endswith(".parquet")]
        if len(have) == copies:
            return out_dir
        shutil.rmtree(dest)
    elif os.path.exists(dest):
        os.remove(dest)                    # pre-r10 single-file layout
    t = pq.read_table(src)
    n = t.num_rows
    vec = np.stack(t.column("embedding").to_pylist()).astype(np.float32)
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    labels = np.asarray(t.column("label").to_pylist(), dtype=np.int32)
    # one parquet FILE per copy — the realistic lake layout (a
    # single-file corpus caps the scan at one input partition and
    # serializes downstream per-candidate arithmetic; see materialize.spread)
    os.makedirs(dest, exist_ok=True)
    for k in range(copies):
        out = pa.table({
            "vec_id": pa.array(ids + k * n),
            "embedding": pa.array(
                np.roll(vec, (7 * k) % vec.shape[1], axis=1).tolist(),
                type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        })
        pq.write_table(out, os.path.join(dest, f"part-{k:05d}.parquet"))
    return out_dir


def _quantized(dir_: str):
    t = pq.read_table(os.path.join(dir_, "embeddings.parquet"))
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    X = np.floor(
        np.stack(t.column("embedding").to_pylist()).astype(np.float64)
        * SCALE).astype(np.int64)
    order = np.argsort(ids)
    return ids[order], X[order]


def exact_radius_truth(ids, X, qmod: int):
    """{query_id: set(neighbor_id)} for cos >= 1/4 — float prefilter,
    exact-int border decision (the operator's own exactness convention,
    derived independently here in numpy/Python)."""
    qmask = ids % qmod == 0
    Q, qids = X[qmask], ids[qmask]
    Xf = X.astype(np.float64)              # hoisted once (r10 review)
    norms = (Xf ** 2).sum(axis=1)
    truth = {}
    for qi, qv in zip(qids, Q):
        dot = Xf @ qv.astype(np.float64)
        nq = float((qv.astype(np.float64) ** 2).sum())
        lhs, rhs = 16.0 * dot * dot, norms * nq
        cand = (dot > 0) & (lhs >= rhs * (1 - 1e-9))
        out = set()
        for j in np.nonzero(cand)[0]:
            if ids[j] == qi:
                continue
            d = int(X[j] @ qv)
            if d > 0 and 16 * d * d >= int(norms[j]) * int(nq):
                out.add(int(ids[j]))
        truth[int(qi)] = out
    return truth


def exact_top5_truth(ids, X, qmod: int):
    qmask = ids % qmod == 0
    Q, qids = X[qmask], ids[qmask]
    Xf = X.astype(np.float64)
    nx = np.sqrt((Xf ** 2).sum(axis=1))
    truth = {}
    for qi, qv in zip(qids, Q):
        qf = qv.astype(np.float64)
        s = (Xf @ qf) / (nx * np.sqrt((qf ** 2).sum()))
        s[ids == qi] = -np.inf
        # top-5, ties by neighbor_id asc (the family convention)
        order = sorted(range(len(ids)), key=lambda j: (-s[j], ids[j]))[:5]
        truth[int(qi)] = {int(ids[j]) for j in order}
    return truth


def candidate_fraction(spark, dir_: str, nlist: int, nprobe: int) -> float:
    """Exact candidate-stream size from the cell histogram."""
    from pyspark.sql import functions as F

    from ..operators import llm_similarity as S

    e = S._emb(spark, dir_)
    C = S._ivf_centroids(spark, dir_, e, S._IVF_TRAIN_ITERS, nlist)
    Cn = S._normalized_centroids(C)
    sizes = (
        e.withColumn("cells", S._ivf_assign_udf(Cn, 1)(F.col("emb")))
        .select(F.element_at("cells", 1).alias("cell"))
        .groupBy("cell").count()
    )
    qcells = (
        e.filter(F.expr(S._QUERY_FILTER))
        .withColumn("cells", S._ivf_assign_udf(
            Cn, min(nprobe, nlist))(F.col("emb")))
        .select(F.explode("cells").alias("cell"))
    )
    cand = (qcells.join(sizes, "cell")
            .agg(F.sum("count")).collect()[0][0])
    n = e.count()
    nq = e.filter(F.expr(S._QUERY_FILTER)).count()
    return float(cand) / (float(n) * nq)


def measure(spark, dir_: str, nlist: int, qmod: int,
            nprobe: int | None = None, skip_ivfpq: bool = False,
            ivfpq_nprobe: int | None = None) -> dict:
    """``ivfpq_nprobe`` dials the IVFPQ probe width independently of the
    radius-search ``nprobe`` (r11: the equal-fraction IVFPQ rows probe
    nlist/4 while radius uses its own registered default); None keeps
    the plan's registered default."""
    from pyspark.sql import functions as F

    from ..operators import llm_similarity as S

    if nprobe is None:
        nprobe = S._RANGE_ANN_NPROBE
    ids, X = _quantized(dir_)
    out = {"dir": dir_, "n": int(len(ids)), "nlist": nlist,
           "nprobe": nprobe, "qmod": qmod}

    # ---- composed radius search ----
    truth = exact_radius_truth(ids, X, qmod)
    walls = []
    for _ in range(2):
        t0 = time.time()
        rows = S._range_search_ann_plan(
            spark, dir_, nlist=nlist, nprobe=nprobe).count()
        walls.append(round(time.time() - t0, 1))
    out["range_wall"] = walls
    out["range_rows"] = rows
    got = {}
    for r in (S._range_search_ann_plan(spark, dir_, nlist=nlist,
                                       nprobe=nprobe)
              .filter(F.col("query_id") % qmod == 0)
              .select("query_id", "neighbor_id").collect()):
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    fp = sum(len(v - truth.get(q, set())) for q, v in got.items())
    tp = sum(len(v & truth.get(q, set())) for q, v in got.items())
    tot = sum(len(v) for v in truth.values())
    out["range_recall"] = round(tp / tot, 3) if tot else None
    out["range_fp"] = fp
    out["range_frac"] = round(candidate_fraction(
        spark, dir_, nlist, nprobe), 4)
    if skip_ivfpq:
        return out

    # ---- ivfpq top-5 ----
    pq_kw = {} if ivfpq_nprobe is None else {"nprobe": ivfpq_nprobe}
    out["ivfpq_nprobe"] = ivfpq_nprobe
    t5 = exact_top5_truth(ids, X, qmod)
    walls = []
    for _ in range(2):
        t0 = time.time()
        S._ann_ivfpq_plan(spark, dir_, nlist=nlist, **pq_kw).count()
        walls.append(round(time.time() - t0, 1))
    out["ivfpq_wall"] = walls
    gq = {}
    for r in (S._ann_ivfpq_plan(spark, dir_, nlist=nlist, **pq_kw)
              .filter(F.col("query_id") % qmod == 0)
              .select("query_id", "neighbor_id").collect()):
        gq.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(gq.get(q, set()) & t) for q, t in t5.items())
    out["ivfpq_recall5"] = round(hits / sum(len(t) for t in t5.values()), 3)
    return out


def main(argv):
    from ..session import get_spark

    copies, nlists, i = [], [32, 64, 128], 0
    while i < len(argv):                   # strict parse (r10 review:
        a = argv[i]                        # silently-ignored args made
        if a.isdigit():                    # a run measure the WRONG
            copies.append(int(a))          # configuration)
        elif a.startswith("--nlists="):
            nlists = [int(x) for x in a.split("=")[1].split(",")]
        elif a == "--nlists" and i + 1 < len(argv):
            i += 1
            nlists = [int(x) for x in argv[i].split(",")]
        else:
            raise SystemExit(f"unrecognized argument: {a!r}")
        i += 1
    copies = copies or [30, 100]
    # the bench session helper, NOT a bare builder: a default-1g driver
    # GC-thrashed the 30x candidate stream into a single-core crawl
    spark = get_spark("zke-scale-proxy",
                      cpus=os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark.sparkContext.setLogLevel("ERROR")
    # Measurement finding (r10): AQE sizes post-shuffle partitions by
    # INPUT bytes, but the cell-keyed candidate join's output is
    # ~n·(nprobe/nlist)/|cell| times its input — at 30×/100× the probe
    # coalesced to ~1 partition and the interpreted zip_with folds ran
    # single-core. A smaller advisory target keeps the exploding join
    # parallel; at real cluster scale the equivalent dial is
    # spark.sql.adaptive.advisoryPartitionSizeInBytes sized to the
    # join's output amplification, not its input.
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    for k in copies:
        d = build_proxy(f"/tmp/zke_proxy_{k}x", k)
        # qmod must be a MULTIPLE of the plan's own query filter
        # (vec_id % 50 = 0) or sampled queries have no plan rows and
        # recall reads as a miss; formula gives 200/600/2000 at the
        # canonical 10x/30x/100x scales
        qmod = 50 * max(1, (k * 20) // 50)
        for nl in nlists:
            r = measure(spark, d, nl, qmod)
            print(json.dumps(r), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
