"""Heavy-kernel core-scaling proxy (r14, VERDICT r13 item 5).

The driver's 8-core bench equals its 32-core bench at sf0.1 because
~0.25-0.3 s x 220 queries is fixed per-query floor (footer read +
Catalyst + AQE scheduling + noop write) — core scaling is invisible
there. This tool makes it visible WITHOUT touching the 220-query
bench contract: it runs only the compute-heavy kernels, on the 10x
(or 30x) rolled-copy proxy where compute dominates the floor, at a
caller-chosen core count — run it twice (e.g. SPARK_GRAFT_CPUS-style
--cpus 32 and --cpus 8) and compare the per-query walls.

Proxy: the relational_scale rolled-key-island build (lineitem/orders/
customer/part/supplier/events), plus rolled documents (doc_id shifted
per copy island; a per-copy marker token is prepended to text so
copies share no shingles — otherwise every doc would near-dup match
its 9 clones and the dedup families would scale quadratically instead
of linearly) and rolled embeddings (the scale_proxy vector roll).

Run (one process per core count — the master is fixed at session
build):
    python -m zio_kinesis_example_spark.tools.heavy_scaling \
        --copies 10 --cpus 32 >> heavyscale.jsonl
    python -m zio_kinesis_example_spark.tools.heavy_scaling \
        --copies 10 --cpus 8  >> heavyscale.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

#: compute-dense kernels whose sf0.1 wall is NOT floor-dominated: the
#: portable-hash dedup family, the quadratic-probe joins, the heaviest
#:  TPC-H aggregation/join chains, the decimal flagship, and the ANN
#: BLAS kernel. (Multimodal codecs excluded: their payload fixtures
#: are not covered by the rolled-table builders.)
HEAVY_SET = [
    "q_dedup_simhash", "q_dedup_minhash_pairs", "q_dedup_ngram_jaccard",
    "q_dedup_simhash_pairs", "q_curate_pipeline",
    "q_join_interval_overlap", "q_join_interval_overlap_capped",
    "q_join_grid_neighbors", "q_agg_group",
    "q_tpch_q7", "q_tpch_q9", "q_tpch_q21",
    "q_sim_ann_ivfpq",
]

#: doc_id copy offset — above the sf0.1 doc_id domain (r14: max doc_id
#: at sf0.1 is < 20000; keep island keys disjoint).
_DOC_OFFSET = 100_001


def _roll_documents(out_dir: str, copies: int, src: str = SRC) -> None:
    dest = os.path.join(out_dir, "documents.parquet")
    if os.path.isdir(dest):
        parts = [f for f in os.listdir(dest) if f.endswith(".parquet")]
        if len(parts) == copies:
            return
        import shutil
        shutil.rmtree(dest)
    elif os.path.exists(dest):
        os.remove(dest)
    t = pq.read_table(os.path.join(src, "documents.parquet"))
    os.makedirs(dest, exist_ok=True)
    for k in range(copies):
        cols = {}
        for field in t.schema:
            col = t.column(field.name).combine_chunks()
            if k and field.name == "doc_id":
                col = pc.add(col, pa.scalar(k * _DOC_OFFSET,
                                            type=field.type))
            if k and field.name == "text":
                # per-copy marker token: copies share NO shingles, so
                # near-dup structure stays per-island (linear load)
                col = pc.binary_join_element_wise(
                    pa.scalar(f"copyisle{k}"), col, pa.scalar(" "))
            cols[field.name] = col
        pq.write_table(pa.table(cols, schema=t.schema),
                       os.path.join(dest, f"part-{k:05d}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--queries", default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    out_dir = args.out or f"/tmp/zke_heavy_{args.copies}x"

    from .relational_scale import build_tpch_proxy
    from .scale_proxy import build_proxy as build_emb_proxy

    build_tpch_proxy(out_dir, args.copies)
    _roll_documents(out_dir, args.copies)
    build_emb_proxy(out_dir, args.copies,
                    src=os.path.join(SRC, "embeddings.parquet"))

    from ..api import clear_shared_cache
    from ..registry import all_specs
    from ..session import get_spark

    spark = get_spark(cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    names = args.queries.split(",") if args.queries else HEAVY_SET
    # repo-root bench.py (the warmup + noop force), importable from any
    # working directory
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))))
    import bench as _b
    _b.warmup(spark, SRC)
    for name in names:
        fn = specs[name].bench_fn or specs[name].fn
        walls = []
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, out_dir).write.format("noop") \
                .mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
            clear_shared_cache()
        print(json.dumps({"query": name, "copies": args.copies,
                          "cpus": args.cpus, "walls": walls,
                          "min": min(walls)}), flush=True)


if __name__ == "__main__":
    main()
