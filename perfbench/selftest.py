"""Self-test of the benchmark at tiny scale (about three minutes).

    python3 perfbench/selftest.py

Runs every workload on the sf0.001 tables with short lists (batch-floor:
4 queries, batch-heavy: 2 queries on the 3x roll, stream-drain: a
10-file backlog), untraced and traced, and asserts that

- each run exits 0 and its last stdout line is the result object with
  exactly the keys correct/attempted/failed/metrics;
- every end-to-end metric (untraced) or per-layer metric (traced) of
  BENCHMARK.json is printed with its unit, and the run checked out;
- the traced run's per-op layer times plus ``other`` sum to the op wall;
- with one expected value corrupted, ok_frac drops below 1 and the run
  reports correct=false (the output check bites);
- in a directory holding only BENCHMARK.json and perfbench/, the run
  exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(args: list[str], cwd: str = ROOT) -> tuple[int, str, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--seconds", "1", *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except ValueError:
        res = None
    return p.returncode, p.stderr, res


def artifact(stderr: str) -> dict:
    line = next(s for s in stderr.splitlines() if s.startswith("perfbench: "))
    path = json.loads(line[len("perfbench: "):])["artifact"]
    with open(os.path.join(HERE, path)) as fh:
        return json.load(fh)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    # batch-heavy runs like the gated workloads but is not in BENCHMARK.json
    for wl in [w["name"] for w in spec["workloads"]] + ["batch-heavy"]:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            rc, err, res = bench(["--workload", wl, "--seed", "7",
                                  "--trace", str(trace), "--scale", "tiny"])
            tag = f"{wl} trace={trace}"
            expect(rc == 0 and res is not None, f"{tag}: exit 0 with a result")
            if res is None:
                print(err[-2000:])
                continue
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{tag}: result keys")
            expect(res["correct"] and res["failed"] == 0
                   and res["attempted"] >= 1, f"{tag}: outputs check out")
            got = res["metrics"]
            expect(set(got) == {m["name"] for m in names}
                   and all(got[m["name"]]["unit"] == m["unit"]
                           for m in names), f"{tag}: every metric and unit")
            if trace:
                rows = artifact(err)["accounting"]
                expect(bool(rows) and all(
                    abs(r["accounted_s"] - r["wall_s"]) < 1e-6 for r in rows),
                    f"{tag}: layer self times + other = op wall")
            else:
                expect(got["ok_frac"]["value"] == 1.0, f"{tag}: ok_frac 1")
        if wl != "batch-heavy":
            rc, err, res = bench(["--workload", wl, "--seed", "7", "--trace",
                                  "0", "--scale", "tiny", "--corrupt-expected"])
            expect(rc == 0 and res is not None and not res["correct"]
                   and res["metrics"]["ok_frac"]["value"] < 1.0,
                   f"{wl}: a corrupted expected value fails the check")

    bare = os.path.join(HERE, "_work", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_work", "_results",
                                                      "__pycache__"))
        rc, _err, res = bench(["--workload", "batch-floor", "--seed", "1",
                               "--trace", "0"], cwd=bare)
        expect(rc != 0 and res is None,
               "without the program: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
