"""Relational-family scale proxy (r11): measured above-sf0.1 walls for
the TPC-H / join / window / events queries — the last surface whose
100 TB posture rested on plan reads alone (r10 verdict item 1; the ANN
family has measured 30x/100x points via tools/scale_proxy.py, dedup/
curation 30x).

Proxy construction — the rolled-copy pattern ported to the relational
tables: copy k of each scaled table shifts every key by k x its
DOMAIN size (orderkey by 150000, custkey by 15000, ...), applied
CONSISTENTLY across fact and dimension sides (events.user_id shifts
with custkey — it joins customer.c_custkey in q_join_skew_salted), so
each copy is an independent key-island with exactly the 1x join
fan-out, sharing the fixed nation/region dimensions — the TPC-H
scaling rule itself (lineitem..supplier grow with SF, nation/region do
not). Offsets are domain size + 1, deliberately NOT multiples of the
grid/bucket moduli some queries derive values from (o_orderkey %
10000), so copies land decorrelated, not stacked (see _DOMAINS — the
first measurement used round domain sizes, which ARE such multiples,
and the grid queries stacked; ledgered and corrected in BASELINE.md
r11).

Measured per (query, scale):
- **wall**: best-of-2 noop-sink runs under the bench cold contract
  (clearCache + clear_shared_cache between runs — bench.py's exact
  loop), so 1x numbers are comparable to BENCH_LOCAL.json.
- **plan shape**: the FINAL adaptive plan (executed via the physical
  plan's own RDD so AdaptiveSparkPlanExec finalizes), digested to join
  -strategy counts (BroadcastHashJoin / SortMergeJoin /
  ShuffledHashJoin / BroadcastNestedLoop / Cartesian) + AQE skew
  markers. The named check from the verdict: a query whose join
  multiset DIFFERS between 1x and 10x is a plan flip to explain
  (broadcast->SMJ demotion, skew split) — `--digest` flags them.
- **rows**: output cardinality, so superlinear walls can be attributed
  to output growth (fixed-radius spatial joins and interval overlaps
  legitimately produce ~k^2 pairs at k-fold density) vs plan defects.

Run:    python -m zio_kinesis_example_spark.tools.relational_scale \
            [copies ...] [--queries name,name] >> relscale.jsonl
Digest: python -m zio_kinesis_example_spark.tools.relational_scale \
            --digest relscale.jsonl
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

#: key-domain offsets (1x domain size + 1 at sf0.1); every column
#: listed shifts by k*offset in copy k. user_id shares the custkey
#: domain — it joins c_custkey. The +1 is LOAD-BEARING (r11
#: self-correction): the round domain sizes (150000, 20000, ...) are
#: multiples of the 10000 modulus the grid queries derive coordinates
#: from (x = (o_orderkey % 10000)*c % 10000), so copies STACKED
#: exactly in x and the spatial pair counts grew ~3x beyond the
#: density^2 expectation; offset 150001 walks each copy one grid
#: position over, restoring the decorrelated rolled-copy intent.
_DOMAINS = {
    "orderkey": 150_001,
    "custkey": 15_001,
    "partkey": 20_001,
    "suppkey": 1_001,
    "eventid": 100_001,
}
_SHIFTS: dict[str, dict[str, str]] = {
    "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey",
                 "l_suppkey": "suppkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "customer": {"c_custkey": "custkey"},
    "part": {"p_partkey": "partkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "events": {"event_id": "eventid", "user_id": "custkey"},
}
_FIXED = ("nation", "region")

#: the measured surface: the 22 TPC-H queries (Q1 = q_agg_group), the
#: heavy join family, and every window/events query — the r10
#: verdict's named list.
_EXPLICIT = [
    "q_agg_group", "q_join_3way", "q_join_broadcast", "q_join_bloom_semi",
    "q_join_skew_salted", "q_join_grid_neighbors", "q_join_grid_knn",
    "q_join_interval_overlap", "q_join_interval_overlap_capped",
]
_PREFIXES = ("q_tpch_", "q_win_", "q_events_")


def target_queries(specs) -> list[str]:
    return sorted(n for n in specs
                  if n in _EXPLICIT or n.startswith(_PREFIXES))


def build_tpch_proxy(out_dir: str, copies: int, src: str = SRC) -> str:
    """Rolled-key-island proxy of the relational tables: copies x |1x|
    rows per scaled table, one parquet part file per copy (the
    realistic lake layout — the r10 single-file lesson: one file caps
    the scan at one input partition). nation/region copied fixed.
    Reuse guard: a dest is reused only if a manifest records the SAME
    copies AND the same key-offset table — the r11 offset correction
    showed a count-only guard happily serving a stale proxy built
    under different offsets."""
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    manifest = os.path.join(out_dir, "_MANIFEST.json")
    want = {"copies": copies, "domains": _DOMAINS, "src": src}
    have = None
    try:
        with open(manifest) as fh:
            have = json.load(fh)
    except (OSError, ValueError):
        pass
    if have != want:
        for name in list(_SHIFTS) + list(_FIXED):
            p = os.path.join(out_dir, f"{name}.parquet")
            if os.path.isdir(p):
                shutil.rmtree(p)
            elif os.path.exists(p):
                os.remove(p)
    for name in _FIXED:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(os.path.join(src, f"{name}.parquet"), dst)
    for name, shifts in _SHIFTS.items():
        dest = os.path.join(out_dir, f"{name}.parquet")
        if os.path.isdir(dest):
            parts = [f for f in os.listdir(dest) if f.endswith(".parquet")]
            if len(parts) == copies:
                continue
            shutil.rmtree(dest)
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        os.makedirs(dest, exist_ok=True)
        for k in range(copies):
            cols = []
            for field in t.schema:
                col = t.column(field.name)
                if k and field.name in shifts:
                    off = k * _DOMAINS[shifts[field.name]]
                    col = pc.add(col, pa.scalar(off, type=field.type))
                cols.append(col)
            pq.write_table(
                pa.table(dict(zip(t.schema.names, cols))),
                os.path.join(dest, f"part-{k:05d}.parquet"))
    tmp = f"{manifest}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(want, fh)
    os.replace(tmp, manifest)          # written LAST: a killed build
    return out_dir                     # re-reads as a mismatch


_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")


def plan_digest(plan: str) -> dict:
    d = {n: len(re.findall(rf"\b{n}\b", plan)) for n in _JOIN_NODES}
    d["skew_splits"] = len(re.findall(r"isSkew=true|skew=true", plan))
    return {k: v for k, v in d.items() if v}


def measure(spark, sf_dir: str, name: str, spec) -> dict:
    """bench.py's cold contract (best-of-2 noop walls), then one
    plan-capture execution through the physical plan's RDD so the
    adaptive plan FINALIZES and its join strategy is readable."""
    from zio_kinesis_example_spark.api import clear_shared_cache

    fn = spec.bench_fn or spec.fn
    walls = []
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls.append(round(time.perf_counter() - t0, 2))
        spark.catalog.clearCache()
        clear_shared_cache()
    df = fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    rows = qe.executedPlan().execute().count()
    plan = qe.executedPlan().toString()
    spark.catalog.clearCache()
    clear_shared_cache()
    return {"query": name, "dir": sf_dir, "wall": walls,
            "rows": int(rows), "plan": plan_digest(plan)}


def digest(paths: list[str]) -> None:
    """Markdown table: wall 1x vs Nx, per-unit-data ratio, output
    growth, and the plan-flip check (join multiset 1x vs Nx)."""
    recs = []
    for p in paths:
        with open(p) as fh:
            recs += [json.loads(ln) for ln in fh if ln.strip()]
    base = {r["query"]: r for r in recs if r["dir"].rstrip("/").endswith("sf0.1")}
    scaled: dict[str, dict] = {}
    for r in recs:
        m = re.search(r"_(\d+)x", r["dir"])
        if m:
            scaled.setdefault(r["query"], {})[int(m.group(1))] = r
    ks = sorted({k for v in scaled.values() for k in v})
    # no-silent-caps: a query measured at Nx but missing its 1x record
    # would otherwise vanish from the table entirely
    for q in sorted(set(scaled) - set(base)):
        print(f"WARNING: {q} has scaled records but no sf0.1 base row — "
              "omitted from the table; re-run the 1x measurement")
    print("| query | wall 1x | " + " | ".join(
        f"wall {k}x | /unit | rows {k}x/1x" for k in ks)
        + " | plan flip |")
    print("|---|---|" + "---|" * (3 * len(ks)) + "---|")
    flips = []
    for q in sorted(base):
        b = base[q]
        w1 = min(b["wall"])
        cells = []
        notes = []
        for k in ks:
            s = scaled.get(q, {}).get(k)
            if s is None:
                cells += ["—", "—", "—"]
                continue
            wk = min(s["wall"])
            cells += [f"{wk:.2f}", f"{wk / (k * w1):.2f}" if w1 else "—",
                      f"{s['rows'] / b['rows']:.1f}" if b["rows"] else "—"]
            jb = {n: b["plan"].get(n, 0) for n in _JOIN_NODES}
            js = {n: s["plan"].get(n, 0) for n in _JOIN_NODES}
            if jb != js:
                notes.append(f"{k}x: " + ", ".join(
                    f"{n} {jb[n]}→{js[n]}" for n in _JOIN_NODES
                    if jb[n] != js[n]))
            if s["plan"].get("skew_splits"):
                notes.append(f"{k}x skew_splits={s['plan']['skew_splits']}")
        flip = "; ".join(notes)
        print(f"| {q} | {w1:.2f} | " + " | ".join(cells) + f" | {flip} |")
        if flip:
            flips.append((q, flip))
    print()
    print(f"plan flips: {len(flips)}" +
          ("".join(f"\n- {q}: {f}" for q, f in flips) if flips else
           " (join strategy multiset identical at every scale)"))


def main(argv):
    if argv and argv[0] == "--digest":
        digest(argv[1:])
        return
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))))
    from zio_kinesis_example_spark.registry import all_specs
    from zio_kinesis_example_spark.session import get_spark

    copies, only, i = [], None, 0
    while i < len(argv):
        a = argv[i]
        if a.isdigit():
            copies.append(int(a))
        elif a.startswith("--queries="):
            only = a.split("=", 1)[1].split(",")
        elif a == "--queries" and i + 1 < len(argv):
            i += 1
            only = argv[i].split(",")
        else:
            raise SystemExit(f"unrecognized argument: {a!r}")
        i += 1
    copies = copies or [10]
    specs = all_specs()
    names = only or target_queries(specs)
    missing = [n for n in names if n not in specs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")
    spark = get_spark("zke-relational-scale",
                      cpus=os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark.sparkContext.setLogLevel("ERROR")
    import bench

    bench.warmup(spark, SRC)   # JVM/codegen warmup, not charged to q #1
    dirs = [SRC] + [build_tpch_proxy(f"/tmp/zke_rel_{k}x", k)
                    for k in copies]
    for d in dirs:
        for n in names:
            r = measure(spark, d, n, specs[n])
            print(json.dumps(r), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
