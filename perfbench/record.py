"""Record the expected outputs (and warm costs) the benchmark checks
against, into perfbench/expected.json.

    python3 perfbench/record.py [--bases sf0.01,sf0.001]

For each base table set it runs every benched query twice on the base
tables (the batch-floor input), and every batch-heavy query on the 3x
rolled input built under two different seeds. A query whose (rows,
fingerprint) differs between its two runs is left out, with the reason,
because the benchmark could not check it. ``cost_s`` is the second
run's wall, which batch-floor uses to pick its floor band and strata.
Run this again only when the inputs or the query list change, never to
make a failing check pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run as bench


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--bases", default="sf0.01,sf0.001")
    args = ap.parse_args(argv)
    work = os.path.join(bench.WORK, f"record-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    path = os.path.join(bench.HERE, "expected.json")
    try:
        bench.prepare_environment(work, trace=False)
        import inputs
        import workloads as wl
        ctx = bench.Ctx(None, work)
        bench.start_session(ctx)
        try:
            with open(path) as fh:
                out = json.load(fh)
        except OSError:
            out = {}
        for base in args.bases.split(","):
            base_dir = os.path.join(bench.DATA, base)
            floor = [q for q, s in ctx.specs.items()
                     if s.bench and q not in wl.HEAVY_ALL]
            out[base] = record(ctx, floor, [base_dir, base_dir])
            rolled = [inputs.roll_tables(base_dir, os.path.join(work, f"h{s}"),
                                         wl.HEAVY_COPIES, s) for s in (1, 2)]
            out[f"heavy3x-{base}"] = record(ctx, wl.HEAVY, rolled)
            with open(path, "w") as fh:
                json.dump(out, fh, indent=1, sort_keys=True)
        ctx.spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def record(ctx, queries: list[str], dirs: list[str]) -> dict:
    import workloads as wl
    batch = wl.Batch(ctx, queries, dirs[0], {})
    got: dict = {}
    for name in queries:
        runs = [batch.op(name, d) for d in dirs]
        errs = [r["error"] for r in runs if "error" in r]
        key = {(r.get("rows"), r.get("fp")) for r in runs}
        if errs:
            got.setdefault("_excluded", {})[name] = errs[0][:200]
        elif len(key) != 1:
            got.setdefault("_excluded", {})[name] = \
                "output differs between two runs"
        else:
            got[name] = {"rows": runs[1]["rows"], "fp": runs[1]["fp"],
                         "cost_s": round(runs[1]["wall"], 4)}
        print(name, got.get(name) or got["_excluded"][name], file=sys.stderr,
              flush=True)
    return got


if __name__ == "__main__":
    sys.exit(main())
