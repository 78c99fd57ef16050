"""Per-layer numbers of a traced run.

Every op's wall is split into four role buckets that both kinds of op
have, which are the per-layer times reported on stdout:

- ``input_s``: reading the op's input. Batch: ``catalog.load``. Stream:
  the source's ``latestOffset`` + ``getBatch`` phases.
- ``plan_s``: Catalyst. Batch: ``executedPlan()`` on the built frame.
  Stream: the ``queryPlanning`` phase.
- ``exec_s``: running the plan. Batch: the noop write. Stream: the
  ``addBatch`` phase (the foreachBatch body).
- ``other_s``: the rest. Batch: the query callable's own time
  (``build.self_s``) and the op span's self time. Stream: the offset and
  commit log writes (``walCommit``, ``commitOffsets``) and the time no
  phase names.

By construction the four sum to the op wall. The finer breakdown under
the layer names of README.md (``catalog.load_s``, ``build.self_s``,
``source.*``, ``stream.*``, ``tap.settle_s``, ``persist.clear_s``) goes to
the run record only: each of those is zero on the workload that does not
call its layer. Job, stage, task and byte counts come from the event log,
attributed by job group (batch) or by micro-batch id (stream). Every
value is a mean per op of the timed window, except the set-up times and
the counts named per run (persist.leaked, serde.dead_letter,
tap.batches).
"""

from __future__ import annotations

import datetime as _dt
import statistics

from spans import covered

#: durationMs phase -> metric; the phases not named here fall into other
PHASES = {
    "latestOffset": "source.latestOffset_s",
    "getBatch": "source.getBatch_s",
    "queryPlanning": "stream.queryPlanning_s",
    "addBatch": "stream.addBatch_s",
    "walCommit": "stream.walCommit_s",
    "commitOffsets": "stream.commitOffsets_s",
}
#: batch op span name -> metric; other spans inside an op count as op.self_s
SELF = {"catalog.load": "catalog.load_s", "build": "build.self_s",
        "plan": "plan_s", "exec": "exec_s", "op": "op.self_s"}
ROLES = ("input_s", "plan_s", "exec_s", "other_s")
STAGE_SUMS = ("shuffle.write_bytes", "shuffle.read_bytes", "spill_bytes",
              "input_bytes")


def _mean(rows: list[dict], key: str) -> float:
    return statistics.fmean(r.get(key, 0.0) for r in rows) if rows else 0.0


def _jobs_stats(jobs: list[dict], stages: dict) -> dict:
    done = [stages[s] for j in jobs for s in j["stages"] if s in stages]
    out = {k: sum(st.get(k, 0.0) for st in done) for k in STAGE_SUMS}
    out["stages"] = len(done)
    out["tasks"] = sum(st.get("tasks", 0) for st in done)
    return out


def batch_ops(tracer, log: dict, ops: list[dict]) -> list[dict]:
    own = tracer.self_times()
    by_op: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if s["op"] is not None:
            by_op.setdefault(s["op"], []).append(s)
    jobs_by_group: dict[str, list[dict]] = {}
    for j in log["jobs"].values():
        jobs_by_group.setdefault(j["group"], []).append(j)
    rows = []
    for op in ops:
        spans = by_op.get(op["id"], [])
        top = next((s for s in spans if s["name"] == "op"), None)
        if top is None:
            continue
        wall = top["t1"] - top["t0"]
        row = {"query": op["query"], "wall_s": wall}
        inside = {top["id"]}
        for s in spans:  # spans are recorded parent first
            if s["parent"] in inside:
                inside.add(s["id"])
            if s["name"] == "clear":
                row["persist.clear_s"] = s["t1"] - s["t0"]
            if s["id"] not in inside:
                continue
            if s["name"] == "catalog.load":
                row["catalog.load_calls"] = row.get("catalog.load_calls", 0) + 1
            key = SELF.get(s["name"], "op.self_s")
            row[key] = row.get(key, 0.0) + own[s["id"]]
        phase = {p: jobs_by_group.get(f"{op['id']}:{p}", [])
                 for p in ("build", "plan", "exec")}
        every = phase["build"] + phase["plan"] + phase["exec"]
        st = _jobs_stats(every, log["stages"])
        row["build.jobs"] = len(phase["build"])
        row["exec.jobs"] = len(phase["exec"])
        row["exec.stages"] = _jobs_stats(phase["exec"], log["stages"])["stages"]
        row["exec.tasks"] = st["tasks"]
        for k in STAGE_SUMS:
            row[k] = st[k]
        lo = top["epoch0"]
        row["driver_gap_s"] = wall - covered(
            [(j["t0"], j["t1"] or lo + wall) for j in every], lo, lo + wall)
        row["persist.live_after_op"] = op.get("persist.live_after_op", 0)
        row["persist.leaked"] = op.get("persist.leaked", 0)
        for k in SELF.values():
            row.setdefault(k, 0.0)
        row["input_s"] = row["catalog.load_s"]
        row["other_s"] = row["build.self_s"] + row["op.self_s"]
        row["accounted_s"] = sum(row[k] for k in ROLES)
        rows.append(row)
    return rows


def _epoch(ts: str) -> float:
    return _dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def stream_ops(tracer, log: dict, drain: dict) -> list[dict]:
    lo, hi = drain["epoch"]
    drain_span = next((s["id"] for s in tracer.spans if s["name"] == "drain"
                       and s.get("tag") == drain["tag"]), None)
    rows = []
    for e in drain["progress"]:
        if e["rows"] <= 0:
            continue
        ms = e["ms"]
        wall = ms.get("triggerExecution", 0) / 1000.0
        row = {"batch": e["batch"], "wall_s": wall}
        for phase, key in PHASES.items():
            row[key] = ms.get(phase, 0) / 1000.0
        row["stream.other_s"] = wall - sum(row[k] for k in PHASES.values())
        row["input_s"] = row["source.latestOffset_s"] \
            + row["source.getBatch_s"]
        row["plan_s"] = row["stream.queryPlanning_s"]
        row["exec_s"] = row["stream.addBatch_s"]
        row["other_s"] = wall - row["input_s"] - row["plan_s"] \
            - row["exec_s"]
        t0 = _epoch(e["timestamp"])
        jobs = [j for j in log["jobs"].values()
                if j["batch"] == str(e["batch"]) and lo <= j["t0"] <= hi]
        st = _jobs_stats(jobs, log["stages"])
        row["exec.jobs"] = len(jobs)
        row["exec.stages"] = st["stages"]
        row["exec.tasks"] = st["tasks"]
        for k in STAGE_SUMS:
            row[k] = st[k]
        row["driver_gap_s"] = wall - covered(
            [(j["t0"], j["t1"] or t0 + wall) for j in jobs], t0, t0 + wall)
        row["accounted_s"] = sum(row[k] for k in ROLES)
        rows.append(row)
        # the phases as spans under the drain, laid end to end from the
        # trigger's start (durationMs gives lengths, not offsets)
        sid = tracer.add("stream.batch", t0, wall, drain_span,
                         batch=e["batch"], from_progress=True)
        at = t0
        for phase, key in PHASES.items():
            tracer.add(key.removesuffix("_s"), at, row[key], sid,
                       from_progress=True)
            at += row[key]
    return rows


def report(workload: str, tracer, log: dict, rec: dict,
           names) -> tuple[dict, list[dict]]:
    """(metric -> value for ``names`` and the finer breakdown, per-op
    accounting)."""
    out = {k: 0.0 for k in names}
    out.update({k: v for k, v in rec["setup"].items() if k in names})
    if workload == "stream-drain":
        drain = rec["drain"]
        rows = stream_ops(tracer, log, drain)
        keys = [*ROLES, *PHASES.values(), "stream.other_s", "exec.jobs",
                "exec.stages", "exec.tasks", "driver_gap_s", *STAGE_SUMS]
        settle = [s for s in tracer.spans if s["name"] == "tap.settle"]
        out["tap.settle_s"] = settle[-1]["t1"] - settle[-1]["t0"] \
            if settle else 0.0
        out["tap.batches"] = drain["tap_batches"]
        out["serde.dead_letter"] = drain["dead"]
        out["persist.leaked"] = drain["persist.leaked"]
    else:
        rows = batch_ops(tracer, log, rec["ops"])
        keys = [*ROLES, "catalog.load_calls", *SELF.values(), "build.jobs",
                "exec.jobs", "exec.stages", "exec.tasks", "driver_gap_s",
                "persist.live_after_op", "persist.clear_s", *STAGE_SUMS]
        out["persist.leaked"] = sum(r["persist.leaked"] for r in rows)
    for k in keys:
        out[k] = _mean(rows, k)
    return out, rows
