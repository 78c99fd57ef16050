"""The workloads: batch-floor, batch-heavy (a Batch) and stream-drain (a
Stream).

A workload object is built with its inputs already written (run.py times
that as gen_s, outside setup_s). ``warmup()`` runs inside set-up;
``window(seconds)`` is the timed window and returns the op walls, how
many ops checked out, ``pass_s``, ``records_per_s`` and a record of every
op for the run's artifact.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import threading
import time

import numpy as np
from pyspark.sql import Observation

import check
import inputs

PKG = "zio_kinesis_example_spark"

#: batch-heavy: one query per family. The families' other members are
#: listed under HEAVY_ALL; they do not fit the run length (see README).
HEAVY_FAMILIES = {
    "dedup": "q_dedup_minhash_pairs",
    "iterative": "q_dedup_clusters",
    "similarity": "q_sim_ann_ivfpq",
    "joins": "q_join_interval_overlap",
    "shuffle-tpch": "q_tpch_q9",
    "curation": "q_curate_pipeline",
}
HEAVY = list(HEAVY_FAMILIES.values())
#: every query named for batch-heavy, trimmed or not: batch-floor never
#: samples these
HEAVY_ALL = HEAVY + [
    "q_dedup_simhash", "q_dedup_simhash_pairs", "q_dedup_ngram_jaccard",
    "q_graph_pagerank", "q_dedup_clusters_largestar", "q_graph_triangles",
    "q_embed_kmeans", "q_join_grid_neighbors", "q_tpch_q7", "q_tpch_q21",
    "q_agg_group"]

HEAVY_COPIES = 3
#: batch-floor: queries per pass, and the warm cost (s, at sf0.01 on a
#: 4-core host) above which a query is not part of the floor band
FLOOR_SAMPLE = 20
FLOOR_MAX_COST_S = 0.35
#: untimed passes before the window opens (the JVM is still warming after one)
WARMUP_PASSES = 2
#: stream-drain: files per micro-batch, and the fewest batches a window holds
FILES_PER_TRIGGER = 2
MIN_BATCHES = 100
WARMUP_BATCHES = 48
#: seconds per micro-batch on a 4-core host; sizes the window's backlog
NOMINAL_BATCH_S = 0.185
#: an op still running after this long is cancelled and counts as failed
OP_TIMEOUT_S = 60.0


def floor_queries(expected: dict, seed: int, size: int) -> list[str]:
    """The batch-floor list in seeded order. The list itself is fixed:
    the floor band, sorted by recorded warm cost, cut into ``size`` equal
    strata, and the middle query of each stratum. (A seeded draw per
    stratum made the pass time depend on the seed by up to 14 %: recorded
    costs rank the queries only roughly in a freshly started JVM.)"""
    band = sorted((e["cost_s"], q) for q, e in expected.items()
                  if q.startswith("q_") and q not in HEAVY_ALL
                  and e["cost_s"] <= FLOOR_MAX_COST_S)
    edges = np.linspace(0, len(band), size + 1)
    picked = [band[int((a + b) / 2)][1] for a, b in zip(edges, edges[1:])]
    rng = np.random.default_rng(seed)
    return [picked[i] for i in rng.permutation(len(picked))]


class Batch:
    """Closed loop, one client: each query's callable plus its noop-sink
    write, then the caches are cleared the way bench.py clears them."""

    def __init__(self, ctx, queries: list[str], data_dir: str,
                 expected: dict):
        self.ctx = ctx
        self.queries = queries
        self.data_dir = data_dir
        self.expected = expected
        self.n = 0

    def op(self, name: str, sf_dir: str) -> dict:
        spark, tr = self.ctx.spark, self.ctx.tracer
        spec = self.ctx.specs[name]
        fn = spec.bench_fn or spec.fn
        self.n += 1
        opid = f"op{self.n}"
        obs = Observation(f"bench_fp_{self.n}")
        fired = threading.Event()

        def cancel():
            fired.set()
            spark.sparkContext.cancelAllJobs()
        timer = threading.Timer(OP_TIMEOUT_S, cancel)
        op = {"id": opid, "query": name, "ok": False}
        timer.start()
        t0, e0 = time.perf_counter(), time.time()
        try:
            if tr is None:
                df = fn(spark, sf_dir)
                check.fingerprinted(df, obs).write.format("noop") \
                    .mode("overwrite").save()
                op["wall"] = time.perf_counter() - t0
            else:
                tr.op = opid
                sc = spark.sparkContext
                with tr.span("op", query=name) as s:
                    sc.setJobGroup(f"{opid}:build", name)
                    with tr.span("build"):
                        df = fn(spark, sf_dir)
                    sc.setJobGroup(f"{opid}:plan", name)
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    sc.setJobGroup(f"{opid}:exec", name)
                    with tr.span("exec"):
                        check.fingerprinted(df, obs).write.format("noop") \
                            .mode("overwrite").save()
                op["wall"] = s["t1"] - s["t0"]
            got = obs.get
            rows, fp = int(got["rows"]), str(got["fp"])
            want = self.expected.get(name)
            op["ok"] = want is not None and [rows, fp] == \
                [want["rows"], want["fp"]]
            op["rows"], op["fp"] = rows, fp
        except Exception as e:  # a failing op is counted, not fatal
            op["wall"] = time.perf_counter() - t0
            op["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            timer.cancel()
        op["epoch"] = (e0, e0 + op["wall"])
        if fired.is_set():
            op["ok"] = False
            op["error"] = f"timeout after {OP_TIMEOUT_S:.0f} s"
        self.clear(op)
        return op

    def clear(self, op: dict) -> None:
        """Untimed between ops: count live persisted frames, clear, then
        check that nothing stayed persisted."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        jsc = spark.sparkContext._jsc
        if tr is not None:
            op["persist.live_after_op"] = jsc.getPersistentRDDs().size()
            with tr.span("clear"):
                spark.catalog.clearCache()
                self.ctx.api.clear_shared_cache()
            tr.op = None
        else:
            spark.catalog.clearCache()
            self.ctx.api.clear_shared_cache()
        op["persist.leaked"] = self.ctx.leaked()
        if op["persist.leaked"]:
            op["ok"] = False

    def warmup(self) -> dict:
        """Untimed passes over the list, on the window's own input."""
        return {"warmup_ops": [self.op(q, self.data_dir)
                               for _ in range(WARMUP_PASSES)
                               for q in self.queries]}

    def window(self, seconds: float) -> dict:
        """Whole passes over the query list until ``seconds`` have passed."""
        ops, passes = [], []
        t_open = time.perf_counter()
        while time.perf_counter() - t_open < seconds:
            t0 = time.perf_counter()
            ops.extend(self.op(q, self.data_dir) for q in self.queries)
            passes.append(time.perf_counter() - t0)
        ok = sum(o["ok"] for o in ops)
        return {"walls": [o["wall"] for o in ops], "ok": ok,
                "pass_s": statistics.median(passes),
                "records_per_s": ok / (time.perf_counter() - t_open),
                "record": {"queries": self.queries, "passes": passes,
                           "ops": ops}}


class QueryWatch(threading.Thread):
    """Grabs the handle of the streaming query a drain starts, so that its
    progress (each micro-batch's durationMs) can be read once it ends. A
    Python StreamingQueryListener would deliver the same events, but its
    callbacks load the listener bus the program's MetricsTap waits on
    (measured: +4 to 5 s of settle per drain), so none is registered."""

    def __init__(self, spark):
        super().__init__(daemon=True)
        self.spark = spark
        self.before = {q.id for q in spark.streams.active}
        self.query = None
        self.stop = threading.Event()

    def run(self):
        while self.query is None and not self.stop.wait(0.05):
            for q in self.spark.streams.active:
                if q.id not in self.before:
                    self.query = q
                    break

    def progress(self) -> list[dict]:
        self.stop.set()
        self.join()
        if self.query is None:
            return []
        return [{"batch": p.batchId, "rows": int(p.numInputRows or 0),
                 "timestamp": p.timestamp,
                 "ms": {k: int(v) for k, v in p.durationMs.items()}}
                for p in self.query.recentProgress]


class Stream:
    """One consumer drains a backlog written before the window opens:
    shard_source(max_files_per_trigger=k) -> decode_json ->
    consume_observed."""

    def __init__(self, ctx, work: str, seed: int, files_per_trigger: int,
                 warm_batches: int, window_batches: int,
                 corrupt_expected: bool = False):
        self.ctx = ctx
        self.work = work
        self.seed = seed
        self.k = files_per_trigger
        self.extra = 1 if corrupt_expected else 0
        self.next_id = 1
        self.backlogs = {"warmup": self.prepare(warm_batches * self.k,
                                                "warmup"),
                         "window": self.prepare(window_batches * self.k,
                                                "window")}

    def prepare(self, n_files: int, tag: str) -> tuple[str, int, int]:
        src = os.path.join(self.work, f"backlog-{tag}")
        first = self.next_id
        n = inputs.write_backlog(src, n_files, self.seed, first_id=first)
        self.next_id += n
        return src, first, n

    def warmup(self) -> dict:
        return {"warmup_drain": self.drain("warmup")}

    def window(self, seconds: float) -> dict:
        """One drain of the window's backlog (sized from ``seconds`` when
        the backlog was written)."""
        d = self.drain("window")
        batches = [e for e in d["progress"] if e["rows"] > 0]
        ok = len(batches) if d["ok"] else 0
        return {"walls": [e["ms"]["triggerExecution"] / 1000.0
                          for e in batches], "ok": ok,
                "pass_s": d["wall"],
                "records_per_s": (d["processed"] if d["ok"] else 0)
                / d["wall"],
                "record": {"files_per_trigger": self.k, "drain": d}}

    def drain(self, tag: str) -> dict:
        spark, tr = self.ctx.spark, self.ctx.tracer
        streaming = self.ctx.streaming
        src, first, n = self.backlogs[tag]
        # keep every batch's progress, not only the last 100
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                       "100000")
        ckpt = os.path.join(self.work, f"ckpt-{tag}")
        d = {"tag": tag, "n": n, "first": first}
        with tr.span("drain", tag=tag) if tr else contextlib.nullcontext():
            valid, _dead = streaming.decode_json(
                streaming.shard_source(spark, src,
                                       max_files_per_trigger=self.k))
            watch = QueryWatch(spark)
            watch.start()
            t0, e0 = time.perf_counter(), time.time()
            res = streaming.consume_observed(valid, ckpt, timeout_s=150)
            d["wall"] = time.perf_counter() - t0
        d["epoch"] = (e0, e0 + d["wall"])
        d["processed"], d["sum_id"] = res.processed, res.sum_id
        d["tap_batches"], d["failed"] = res.batches, res.failed
        d["error"] = res.error
        d["progress"] = watch.progress()
        if tag != "window":   # the warm-up drain is not checked
            return d
        # untimed: dead letters of the same files, read as a batch
        from importlib import import_module
        schema = import_module(f"{PKG}.streaming.source").ENVELOPE_SCHEMA
        _ok, dead = streaming.decode_json(spark.read.schema(schema).json(src))
        d["dead"] = dead.count()
        d["persist.leaked"] = self.ctx.leaked()
        d["ok"] = not res.failed and not d["persist.leaked"] \
            and check.stream_ok(res.processed, res.sum_id, d["dead"],
                                n + self.extra, first)
        return d

    @staticmethod
    def batches_for(seconds: float) -> int:
        return max(MIN_BATCHES, math.ceil(seconds / NOMINAL_BATCH_S))
