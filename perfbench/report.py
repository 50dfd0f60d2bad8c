"""Metrics from a run record (`run.json`, written by graftbench.Main).

End-to-end metrics come from the benchmark's own spans; per-layer metrics
come from the Spark listener events of a traced run, each placed under
the operation whose wall-clock interval holds it.
"""
import bisect
import math
import os
import statistics

E2E = [  # name, unit: the metrics BENCHMARK.json gates
    ("setup_s", "s"), ("cpu_s", "s"), ("held_bytes", "bytes"), ("stored_bytes", "bytes"),
]

LAYERS = [  # name, unit
    ("queries.build_s", "s"), ("queries.eager_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimizer_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.exchanges", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.no_task_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.spill_bytes", "bytes"), ("shuffle.fetch_wait_s", "s"),
    ("scan.input_bytes", "bytes"), ("scan.input_rows", "rows"),
    ("model.envelope_s", "s"), ("pipeline.warm_shared_s", "s"),
    ("produce.build_s", "s"), ("produce.append_s", "s"),
    ("produce.read_bytes", "bytes"), ("produce.accepted", "count"),
    ("produce.rejected", "count"), ("streaming.batches", "count"),
    ("streaming.latest_offset_s", "s"), ("streaming.planning_s", "s"),
    ("streaming.add_batch_s", "s"), ("streaming.commit_s", "s"),
    ("state.rows_total", "count"), ("state.rows_removed", "count"),
    ("state.commit_s", "s"),
]


def _dur(s):
    return (s["end"] - s["start"]) / 1e9


def _cpu(s):
    return (s["cpu_end"] - s["cpu_start"]) / 1e9


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    xs = sorted(xs)
    pos = (len(xs) - 1) * q
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def ops_of(rec):
    """Top-level operation spans, each tagged with its round (1-based)."""
    starts = [r[0] for r in rec["rounds"]]
    ops = [s for s in rec["spans"] if s["kind"] == "op"]
    for s in ops:
        s["round"] = bisect.bisect_right(starts, s["start"])
    return ops


def children(rec, op, kind):
    return [s for s in rec["spans"] if s["parent"] == op["id"] and s["kind"] == kind]


def dir_bytes(path, suffix=".parquet"):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(suffix))
    return total


def end_to_end(rec, kind, failed_ops, out_dir, topic_dir=None):
    """The end-to-end metrics (E2E, plus wall_s), and the figures printed
    beside them: the ones every workload has, then the workload's own.
    `failed_ops` holds the span ids of operations that threw or failed a
    check; their times are left out."""
    every = ops_of(rec)
    ops = [o for o in every if o["id"] not in failed_ops]
    if not ops:
        return None, None
    rounds, cpus = [], []
    for i, (a, b, ca, cb) in enumerate(rec["rounds"], start=1):
        lost = [o for o in every if o["round"] == i and o["id"] in failed_ops]
        rounds.append((b - a) / 1e9 - sum(_dur(o) for o in lost))
        cpus.append((cb - ca) / 1e9 - sum(_cpu(o) for o in lost))
    m = {"setup_s": statistics.median(rec["setups"]), "wall_s": statistics.median(rounds),
         "cpu_s": statistics.median(cpus), "held_bytes": float(rec["held_bytes"])}
    named = {}
    if kind == "batch":
        per_query = {}
        for o in ops:
            per_query.setdefault(o["name"], []).append(_dur(o))
        times = [statistics.median(v) for v in per_query.values()]
        m["stored_bytes"] = float(dir_bytes(os.path.join(out_dir, f"r{len(rec['rounds'])}")))
        named["query_p50_s"] = (statistics.median(times), "s")
        named["query_geomean_s"] = (math.exp(statistics.fmean(math.log(t) for t in times)), "s")
        named["cache_bytes"] = (m["held_bytes"], "bytes")
    else:
        times = [_dur(o) for o in ops]
        produce = [_dur(c) for o in ops for c in children(rec, o, "append")]
        w = rec["workload"]
        accepted = sum(n for n in w["accepted"] if n is not None)
        m["stored_bytes"] = float(dir_bytes(topic_dir))
        named["produce_p50_ms"] = (1000 * quantile(produce, 0.5), "ms")
        named["produce_p90_ms"] = (1000 * quantile(produce, 0.9), "ms")
        named["visible_p50_ms"] = (1000 * quantile(times, 0.5), "ms")
        named["visible_p90_ms"] = (1000 * quantile(times, 0.9), "ms")
        named["rows_per_s"] = (accepted / sum(rounds), "rows/s")
        named["state_bytes"] = (float(w["state_bytes"]), "bytes")
        named["topic_bytes"] = (m["stored_bytes"], "bytes")
    named["wall_s"] = (m["wall_s"], "s")
    named["op_p50_ms"] = (1000 * statistics.median(times), "ms")
    named["op_geomean_ms"] = (1000 * math.exp(statistics.fmean(math.log(t) for t in times)), "ms")
    return m, named


def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def per_layer(rec, kind):
    """Per-layer metrics: (workload sums, {op span id: metrics})."""
    lay = rec["layers"]
    ops = ops_of(rec)
    spans = rec["spans"]
    ms = lambda ns: ns / 1e6
    starts = [ms(o["start"]) for o in ops]

    def owner(t_ms):
        i = bisect.bisect_right(starts, t_ms) - 1
        if i >= 0 and t_ms <= ms(ops[i]["end"]) + 1:
            return ops[i]["id"]
        return None

    per_op = {o["id"]: {name: 0.0 for name, _ in LAYERS} for o in ops}

    def add(op_id, name, v):
        if op_id is not None:
            per_op[op_id][name] += v

    builds = [(ms(s["start"]), ms(s["end"])) for s in spans if s["kind"] == "build"]
    appends = [(ms(s["start"]), ms(s["end"])) for s in spans if s["kind"] == "append"]
    inside = lambda t, ivs: any(a <= t <= b for a, b in ivs)
    # jobs a streaming query ran are never the producer's or a build's
    stream_job = {jid for jid, _s, _e, q, _b in lay["jobs"] if q}
    stage_job = {sid: job for sid, job, *_ in lay["stages"]}
    for jid, start, end, _q, _b in lay["jobs"]:
        o = owner(start)
        add(o, "scheduler.jobs", 1)
        if jid not in stream_job and inside(start, builds):
            add(o, "queries.eager_jobs", 1)
    for sid, job, submit, end, ntasks in lay["stages"]:
        o = owner(end or submit)
        add(o, "scheduler.stages", 1)
        add(o, "scheduler.tasks", ntasks)
    task_iv = {}
    for (stage, launch, finish, run_ms, cpu_ns, gc_ms, sh_w, sh_r, spill, fetch_ms,
         in_b, in_r) in lay["tasks"]:
        o = owner(finish)
        if o is None:
            continue
        task_iv.setdefault(o, []).append((launch, finish))
        add(o, "executor.run_s", run_ms / 1e3)
        add(o, "executor.cpu_s", cpu_ns / 1e9)
        add(o, "executor.gc_s", gc_ms / 1e3)
        add(o, "shuffle.write_bytes", sh_w)
        add(o, "shuffle.read_bytes", sh_r)
        add(o, "shuffle.spill_bytes", spill)
        add(o, "shuffle.fetch_wait_s", fetch_ms / 1e3)
        add(o, "scan.input_bytes", in_b)
        add(o, "scan.input_rows", in_r)
        if stage_job.get(stage) not in stream_job and inside(finish, appends):
            add(o, "produce.read_bytes", in_b)
    for at, an, opt, plan, ex in lay["planned"]:
        o = owner(at)
        add(o, "catalyst.analysis_s", an / 1e3)
        add(o, "catalyst.optimizer_s", opt / 1e3)
        add(o, "catalyst.planning_s", plan / 1e3)
        add(o, "catalyst.exchanges", ex)
    last_state = {}
    for (q, bid, start, end, lat, plan, add_b, commit, rows, removed,
         st_commit) in lay["batches"]:
        o = owner(end)
        add(o, "streaming.batches", 1)
        add(o, "streaming.latest_offset_s", lat / 1e3)
        add(o, "streaming.planning_s", plan / 1e3)
        add(o, "streaming.add_batch_s", add_b / 1e3)
        add(o, "streaming.commit_s", commit / 1e3)
        add(o, "state.rows_removed", removed)
        add(o, "state.commit_s", st_commit / 1e3)
        last_state[q] = (end, rows)
    for o in ops:
        p = per_op[o["id"]]
        p["scheduler.no_task_s"] = (ms(o["end"]) - ms(o["start"]) - _union_ms(
            task_iv.get(o["id"], []), ms(o["start"]), ms(o["end"]))) / 1e3
        p["queries.build_s"] = sum(_dur(c) for c in children(rec, o, "build")) if kind == "batch" else 0.0
        if kind == "stream":
            p["produce.build_s"] = sum(_dur(c) for c in children(rec, o, "build"))
            p["produce.append_s"] = sum(_dur(c) for c in children(rec, o, "append"))
    totals = {name: sum(p[name] for p in per_op.values()) for name, _ in LAYERS}
    kept = [s for s in spans if s["kind"] == "setup"]
    last_setup = kept[-1]["id"] if kept else None
    for s in spans:
        if s["parent"] == last_setup and s["name"] == "envelope":
            totals["model.envelope_s"] = _dur(s)
        if s["parent"] == last_setup and s["name"] == "warm_shared":
            totals["pipeline.warm_shared_s"] = _dur(s)
    if kind == "stream":
        w = rec["workload"]
        totals["produce.accepted"] = float(sum(n for n in w["accepted"] if n is not None))
        totals["state.rows_total"] = float(sum(r for _, r in last_state.values()))
    return totals, per_op


def trace_tree(rec):
    """The span tree of a traced run: benchmark spans, then Spark jobs,
    stages and micro-batches under the span that was open when they ran.
    Returns (spans, self seconds per span kind)."""
    lay = rec["layers"]
    tree = [dict(s, start_ms=s["start"] / 1e6, end_ms=s["end"] / 1e6) for s in rec["spans"]]
    bench = sorted(tree, key=lambda s: s["start_ms"])
    next_id = len(tree)

    def innermost(t):
        best = None
        for s in bench:
            if s["start_ms"] <= t <= s["end_ms"] and (best is None or s["start_ms"] >= best["start_ms"]):
                best = s
        return best["id"] if best else -1

    sub_ids = dict((qid, name) for name, qid in rec["workload"].get("subscription_ids", []))
    batch_ids = {}
    for q, bid, start, end, *_ in lay["batches"]:
        parent = innermost(end)
        tree.append({"id": next_id, "parent": parent, "kind": "microbatch",
                     "name": f"{sub_ids.get(q, q)}#{bid}", "start_ms": start, "end_ms": end})
        batch_ids[(q, bid)] = next_id
        next_id += 1
    job_ids = {}
    for jid, start, end, q, b in lay["jobs"]:
        parent = batch_ids.get((q, int(b))) if q and b else None
        tree.append({"id": next_id, "parent": innermost(start) if parent is None else parent,
                     "kind": "job",
                     "name": f"job{jid}", "start_ms": start, "end_ms": max(end, start)})
        job_ids[jid] = next_id
        next_id += 1
    for sid, job, submit, end, _ in lay["stages"]:
        tree.append({"id": next_id, "parent": job_ids.get(job, -1), "kind": "stage",
                     "name": f"stage{sid}", "start_ms": submit, "end_ms": max(end, submit)})
        next_id += 1
    kids = {}
    for s in tree:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    self_s = {}
    for s in tree:
        own = s["end_ms"] - s["start_ms"]
        covered = _union_ms(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
        self_s[s["kind"]] = self_s.get(s["kind"], 0.0) + max(0.0, own - covered) / 1e3
    out = [{"id": s["id"], "parent": s["parent"], "kind": s["kind"], "name": s["name"],
            "start_ms": s["start_ms"], "end_ms": s["end_ms"]} for s in tree]
    return out, self_s
