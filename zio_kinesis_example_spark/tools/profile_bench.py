"""Per-query job/driver-gap profiler (r14, VERDICT r13 item 6).

Runs benched queries under Spark event logging at the bench's exact
session shape and reports, per query:

  wall        bench-contract wall (noop sink, after one warm run)
  n_jobs      Spark jobs the action scheduled
  sum_job     Σ job wall (submission→completion)
  driver_gap  wall − sum_job: py4j/Catalyst/AQE-replanning time the
              DRIVER spends outside any job — the guide §7.3 class the
              r13 literal-parse fixes came from
  slow-narrow stages > 0.25 s wall with ≤ 3 tasks (guide §2.5 input
              under-parallelism candidates)

Usage:
    python -m zio_kinesis_example_spark.tools.profile_bench \
        [--queries a,b,...] [--sf /root/testdata/sf0.1] [--json OUT]

With no --queries, profiles EVERY benched query (the full driver-gap
histogram). One process, one session: gaps are comparable across
queries. Output is one text table (and optionally a JSON file for the
committed artifact).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import time


def _collect_events(evdir: str) -> list[dict]:
    evfiles = sorted(glob.glob(evdir + "/*"), key=os.path.getmtime)
    target = evfiles[-1]
    paths = (sorted(glob.glob(target + "/events_*"))
             if os.path.isdir(target) else [target])
    events = []
    for p in paths:
        if p.endswith(".zstd"):
            import subprocess
            raw = subprocess.run(["zstd", "-dc", p],
                                 capture_output=True).stdout.decode()
        else:
            raw = open(p).read()
        for line in raw.splitlines():
            try:
                events.append(json.loads(line))
            except Exception:
                pass
    return events


def profile(names: list[str] | None, sf: str, json_out: str | None,
            evdir: str = "/tmp/spark-events-profile") -> list[dict]:
    os.makedirs(evdir, exist_ok=True)
    for old in glob.glob(evdir + "/*"):
        try:
            os.remove(old)
        except OSError:
            pass

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count()}]")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from ..api import clear_shared_cache
    from ..registry import all_specs
    from ..session import RUNTIME_CONFS
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass

    specs = all_specs()
    if names is None:
        names = sorted(n for n, s in specs.items() if s.bench)

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    marks: dict[str, tuple[float, float, float]] = {}
    for name in names:
        spec = specs[name]
        fn = spec.bench_fn or spec.fn
        force(fn(spark, sf))
        spark.catalog.clearCache()
        clear_shared_cache()
        t0 = time.time()
        force(fn(spark, sf))
        wall = time.time() - t0
        marks[name] = (t0 * 1000, time.time() * 1000, wall)
        spark.catalog.clearCache()
        clear_shared_cache()
    spark.stop()

    events = _collect_events(evdir)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {
                "t0": e["Submission Time"],
                "stages": [s["Stage ID"] for s in e["Stage Infos"]]}
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["t1"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stages[si["Stage ID"]] = {
                "name": si["Stage Name"],
                "tasks": si["Number of Tasks"],
                "t0": si.get("Submission Time"),
                "t1": si.get("Completion Time")}

    rows = []
    for name, (m0, m1, wall) in marks.items():
        qjobs = [(jid, j) for jid, j in sorted(jobs.items())
                 if j.get("t0", 0) >= m0 - 50
                 and j.get("t1", 9e15) <= m1 + 50]
        ssum = sum((j.get("t1", 0) - j["t0"]) / 1000 for _, j in qjobs)
        narrow = []
        for _, j in qjobs:
            for sid in j["stages"]:
                s = stages.get(sid)
                if (s and s.get("t0") and s["tasks"] <= 3
                        and (s["t1"] - s["t0"]) / 1000 > 0.25):
                    narrow.append({
                        "stage": sid,
                        "sec": round((s["t1"] - s["t0"]) / 1000, 2),
                        "tasks": s["tasks"],
                        "name": s["name"].split("\n")[0][:80]})
        rows.append({"query": name, "wall": round(wall, 3),
                     "n_jobs": len(qjobs), "sum_job": round(ssum, 3),
                     "driver_gap": round(wall - ssum, 3),
                     "slow_narrow": narrow})

    rows.sort(key=lambda r: -r["driver_gap"])
    print(f"{'query':40s} {'wall':>7s} {'jobs':>5s} {'sum_job':>8s}"
          f" {'gap':>7s}")
    for r in rows:
        print(f"{r['query']:40s} {r['wall']:7.3f} {r['n_jobs']:5d}"
              f" {r['sum_job']:8.3f} {r['driver_gap']:7.3f}")
        for s in r["slow_narrow"]:
            print(f"    SLOW-NARROW s{s['stage']}: {s['sec']}s"
                  f"/{s['tasks']}t {s['name']}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(rows, f, indent=1)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--json", default=None)
    args = ap.parse_args()
    names = args.queries.split(",") if args.queries else None
    profile(names, args.sf, args.json)


if __name__ == "__main__":
    main()
