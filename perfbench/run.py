"""Benchmark entry point: one workload, one fresh Spark session.

    python3 perfbench/run.py --workload batch-floor --seed 1 --seconds 20 --trace 0

Runs from any working directory. Builds its inputs from ``--seed``,
starts a single-process Spark session at local[<cpus>], warms the
workload up, then times a window of at least ``--seconds`` seconds and
checks every op's output. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run installs span
wrappers around each layer's public functions, enables the Spark event
log, and reports the per-layer ones instead. The full record of a run
(host facts, every op, the per-op layer accounting) is written under
``perfbench/_results``; scratch files live under ``perfbench/_work``
and are removed when the run ends, after the JVM and every other process
the run started have ended. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "zio_kinesis_example_spark"
WORK = os.path.join(HERE, "_work")
RESULTS = os.path.join(HERE, "_results")
DATA = os.path.join(HERE, "data")
WORKLOADS = ("batch-floor", "batch-heavy", "stream-drain")

E2E = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
       "records_per_s": "1/s", "ok_frac": "frac"}
#: per-layer metrics printed by a traced run: the ones every gated
#: workload measures (see layers.py); the finer breakdown is in the record
LAYER = {
    "session.start_s": "s", "registry.import_s": "s", "warmup_s": "s",
    "input_s": "s", "plan_s": "s", "exec_s": "s", "other_s": "s",
    "driver_gap_s": "s",
    "catalog.load_calls": "count", "build.jobs": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "spill_bytes": "bytes", "input_bytes": "bytes",
    "persist.live_after_op": "count", "persist.leaked": "count",
    "serde.dead_letter": "count", "tap.batches": "count",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's sf0.001 inputs and short lists")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one expected value (self-test: the check "
                         "must then fail)")
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: str, trace: bool) -> None:
    """Everything the JVM and the Python workers inherit must be set
    before the session starts."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's scratch files inside the run's directory too
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                    for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    sys.path[:0] = [ROOT, HERE]


# -- host facts --------------------------------------------------------------

def cpu_counters() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f[:8]), f[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def load_avg() -> list[float]:
    try:
        return list(os.getloadavg())
    except OSError:
        return []


def cpu_probe() -> float:
    """Seconds for a fixed single-threaded Python loop (median of three):
    a reading of host speed that the steal share can miss."""
    def once() -> float:
        t, x = time.perf_counter(), 0
        for i in range(1_000_000):
            x += i * i
        return time.perf_counter() - t
    return statistics.median(once() for _ in range(3))


def commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


# -- processes ---------------------------------------------------------------

def descendants(root: int) -> list[int]:
    """Every live process below ``root``, read from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for pid in kids.get(todo.pop(), ()):
            out.append(pid)
            todo.append(pid)
    return out


def become_subreaper() -> None:
    """Make this process the parent of its orphaned descendants (the
    JVM's children once the JVM has gone), so that it can wait for them."""
    with contextlib.suppress(OSError, AttributeError):
        import ctypes
        pr_set_child_subreaper = 36
        ctypes.CDLL(None).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def wait_children(grace_s: float = 15.0) -> None:
    """Reap children until none is left: SIGTERM to every live
    descendant after ``grace_s``, SIGKILL after twice that."""
    t0 = time.perf_counter()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        waited = time.perf_counter() - t0
        sig = signal.SIGKILL if waited > 2 * grace_s else \
            signal.SIGTERM if waited > grace_s else None
        if sig is not None and sig != sent:
            for pid in descendants(os.getpid()):
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
            sent = sig
        time.sleep(0.05)


def stop_processes() -> None:
    """Stop the Spark context, then the JVM pyspark launched (it exits
    when its stdin closes), and wait until every process started below
    this one (the JVM, its Python worker daemon and workers) has ended."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext
        sc = SparkContext._active_spark_context
        if sc is not None:
            with contextlib.suppress(Exception):
                sc.stop()
        # not gateway.close(): after a foreachBatch stream it can block
        # on the callback server's connections
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
    wait_children()


# -- statistics --------------------------------------------------------------

def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: a beta-weighted mean of
    all order statistics. Unlike a single order statistic it does not
    repeat the millisecond grid the stream phases are reported on."""
    import numpy as np
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    grid = np.linspace(0.0, 1.0, 200 * n + 1)
    inner = grid[1:-1]
    logpdf = (a - 1) * np.log(inner) + (b - 1) * np.log1p(-inner)
    pdf = np.concatenate(([0.0], np.exp(logpdf - logpdf.max()), [0.0]))
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    cdf /= cdf[-1]
    w = np.diff(cdf[::200])
    return float(np.dot(w, x))


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest of p99.9/p99/p95 with at least
    10 ops beyond it, else p90 (then fewer than 10 ops lie beyond it)."""
    n = len(values)
    pct = next((p for p in (99.9, 99.0, 95.0)
                if n * (100 - p) / 100 >= 10), 90.0)
    return hd_quantile(values, pct / 100), pct, n


# -- the run -----------------------------------------------------------------

class Ctx:
    """What the workloads need from the run: the session, the registry,
    the package's modules, the tracer (None when untraced) and the run's
    scratch directory."""

    def __init__(self, tracer, work: str):
        self.tracer = tracer
        self.work = work
        self.spark = None
        self.specs = None
        self.api = None
        self.streaming = None

    def leaked(self) -> int:
        """Frames still persisted once the caches were cleared: entries
        left in the llm_dedup shared registry, plus one if Spark's cache
        manager is not empty."""
        import importlib
        dedup = importlib.import_module(f"{PKG}.operators.llm_dedup")
        n = len(getattr(dedup, "_SHARED", ())) \
            + len(getattr(dedup, "_LOOSE_PERSISTS", ()))
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        return n + (0 if cm.isEmpty() else 1)


def make_workload(args, ctx):
    """Build the workload's inputs from the seed (timed as gen_s by the
    caller) and return the workload object."""
    import workloads as wl
    import inputs
    tiny = args.scale == "tiny"
    if args.workload == "stream-drain":
        return wl.Stream(
            ctx, ctx.work, args.seed, 2 if tiny else wl.FILES_PER_TRIGGER,
            warm_batches=1 if tiny else wl.WARMUP_BATCHES,
            window_batches=5 if tiny else wl.Stream.batches_for(args.seconds),
            corrupt_expected=args.corrupt_expected)
    base = "sf0.001" if tiny else "sf0.01"
    with open(os.path.join(HERE, "expected.json")) as fh:
        exp = json.load(fh)
    base_dir = os.path.join(DATA, base)
    if args.workload == "batch-heavy":
        data_dir = inputs.roll_tables(base_dir, os.path.join(ctx.work, "heavy"),
                                      wl.HEAVY_COPIES, args.seed)
        queries = wl.HEAVY[:2] if tiny else list(wl.HEAVY)
        expected = exp[f"heavy3x-{base}"]
    else:
        data_dir = base_dir
        expected = exp[base]
        queries = wl.floor_queries(expected, args.seed,
                                   4 if tiny else wl.FLOOR_SAMPLE)
    if args.corrupt_expected:
        expected = dict(expected)
        expected[queries[0]] = dict(expected[queries[0]], fp="corrupted")
    return wl.Batch(ctx, queries, data_dir, expected)


def start_session(ctx) -> dict:
    """Spark session and query registry; the traced run wraps each
    layer's entry points once the modules that bind them are loaded."""
    import importlib

    import spans
    tr = ctx.tracer
    if tr:
        spans.install(tr, ("session", "registry"))
    session = importlib.import_module(f"{PKG}.session")
    registry = importlib.import_module(f"{PKG}.registry")
    t = time.perf_counter()
    ctx.spark = session.get_spark(app_name="perfbench")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    ctx.specs = registry.all_specs()
    registry_s = time.perf_counter() - t
    ctx.api = importlib.import_module(f"{PKG}.api")
    ctx.streaming = importlib.import_module(f"{PKG}.streaming")
    if tr:
        spans.install(tr, ("catalog", "api", "streaming.source",
                           "streaming.serde", "streaming.consume",
                           "streaming.observe"))
    return {"session.start_s": session_s, "registry.import_s": registry_s}


def host_block(ctx, seed: int, before: tuple, after: tuple) -> dict:
    ticks = after[1][0] - before[1][0]
    return {
        "nproc": os.cpu_count(), "cpus_used": cpus(),
        "loadavg_window_start": before[0], "loadavg_window_end": after[0],
        "steal_share_window": (after[1][1] - before[1][1]) / ticks
        if ticks else None,
        "cpu_probe_s_after_window": cpu_probe(),
        "python": platform.python_version(),
        "java": ctx.spark._jvm.System.getProperty("java.version"),
        "spark": ctx.spark.version,
        "seed": seed, "commit": commit(),
    }


def run(args, work: str, stem: str) -> dict:
    import spans
    tracer = spans.Tracer() if args.trace else None
    ctx = Ctx(tracer, work)
    rec: dict = {"workload": args.workload, "seed": args.seed,
                 "seconds": args.seconds, "trace": args.trace,
                 "scale": args.scale}
    span = tracer.span if tracer else (lambda name: contextlib.nullcontext())

    t = time.perf_counter()
    workload = make_workload(args, ctx)
    gen_s = rec["gen_s"] = time.perf_counter() - t
    try:
        rec["setup"] = start_session(ctx)
        t = time.perf_counter()
        with span("warmup"):
            rec.update(workload.warmup())
        rec["setup"]["warmup_s"] = time.perf_counter() - t
        t_open = time.perf_counter()
        rec["setup"]["setup_s"] = t_open - T_START - gen_s

        before = (load_avg(), cpu_counters())
        with span("window"):
            res = workload.window(args.seconds)
        rec["window_s"] = time.perf_counter() - t_open
        rec["host"] = host_block(ctx, args.seed, before,
                                 (load_avg(), cpu_counters()))
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
    rec.update(res.pop("record"))

    walls = res["walls"]
    attempted = max(1, len(walls))
    tail_v, tail_pct, n = tail(walls) if walls else (0.0, 90.0, 0)
    e2e = rec["end_to_end"] = {
        "setup_s": rec["setup"]["setup_s"],
        "pass_s": res["pass_s"],
        "op_p50_s": hd_quantile(walls, 0.5) if walls else 0.0,
        "op_tail_s": tail_v,
        "records_per_s": res["records_per_s"],
        "ok_frac": res["ok"] / attempted,
    }
    rec["op_tail"] = {"percentile": tail_pct, "ops": n}
    if tracer:
        import layers
        log = spans.read_event_log(os.path.join(ctx.work, "eventlog"))
        rec["layers"], rec["accounting"] = layers.report(
            args.workload, tracer, log, rec, LAYER)
        os.makedirs(RESULTS, exist_ok=True)
        tracer.dump(os.path.join(RESULTS, stem + ".spans.jsonl"))
        rec["tracing_overhead"] = overhead(rec)
        metrics = {k: (rec["layers"][k], u) for k, u in LAYER.items()}
    else:
        metrics = {k: (v, E2E[k]) for k, v in e2e.items()}
    rec["result"] = {
        "correct": bool(walls) and res["ok"] == len(walls),
        "attempted": attempted,
        "failed": attempted - res["ok"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    metrics.items()},
    }
    return rec


def _same_work(r: dict) -> tuple:
    return (r.get("scale"), r.get("seconds"), sorted(r.get("queries", [])),
            r.get("drain", {}).get("n"))


def overhead(rec: dict) -> dict:
    """Traced minus untraced end-to-end metrics, against the median of
    the untraced runs of the same work (workload, scale, seconds, query
    set or backlog size) already recorded here."""
    import glob
    vals: dict[str, list[float]] = {}
    pattern = os.path.join(RESULTS, f"{rec['workload']}-*-t0-*.json")
    for path in glob.glob(pattern):
        try:
            with open(path) as fh:
                r = json.load(fh)
        except (OSError, ValueError):
            continue
        if _same_work(r) != _same_work(rec) \
           or not r.get("result", {}).get("correct"):
            continue
        for k, v in r["end_to_end"].items():
            vals.setdefault(k, []).append(v)
    if not vals:
        return {"note": "no untraced run of this workload recorded yet"}
    traced = rec["end_to_end"]
    out = {k: traced[k] - statistics.median(v) for k, v in vals.items()}
    out["untraced_runs"] = len(vals["pass_s"])
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    become_subreaper()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: {PKG} not found under {ROOT}; run from a full "
              "checkout", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    stem = (f"{args.workload}-s{args.seed}-t{args.trace}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        prepare_environment(work, bool(args.trace))
        rec = run(args, work, stem)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, stem + ".json"), "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    summary = {"gen_s": rec["gen_s"], "host": rec["host"],
               "op_tail": rec["op_tail"], "artifact": f"_results/{stem}.json"}
    print("perfbench: " + json.dumps(summary, default=str), file=sys.stderr)
    print(json.dumps(rec["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
