#!/usr/bin/env python3
"""graft's benchmark: one workload, one Spark process, checked outputs.

    python3 perfbench/run.py --workload log-surface --seed 1 --seconds 38 --trace 0

Builds the benchmark package (perfbench/build.sbt: graft's sources plus
perfbench/src) when its sources changed, generates the workload's inputs
from --seed, runs the workload in one JVM at local[<cores>], checks every
output against DuckDB, and prints the metrics. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 Spark's
listeners are attached and the metrics are the per-layer ones, and the
span tree is written to perfbench/work/trace-<workload>-<seed>.json.

--mutate 1 corrupts one result per check before checking (every check
must then report failures); it is for testing the checks themselves.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

# Each workload: its graft operations and inputs. `round_s` is about what
# one round takes on the reference machine (README: log-surface about 12 s
# for the first round, 6-10 s once the JIT is warm; topic-stream 15-25 s
# per append). A run makes max(1, floor(--seconds / round_s)) rounds, so every
# run of one --seconds value attempts the same operations, whatever the
# machine's speed. --seconds does not bound the run's wall time: JVM start
# and three set-ups come on top (30-40 s).
# log-surface's `events` has the rows and users of graft's sf0.1 fixture,
# and its set-up derives only the envelope view its queries share (README,
# "Sizing").
WORKLOADS = {
    "log-surface": {
        "kind": "batch", "warm": "envelope", "round_s": 12.0,
        "tables": {"events": 100_000},
        "queries": [
            "a5_tableview", "f1_ttl_expiry",
            "m7_avro_roundtrip", "o2_seek_by_time", "r5_key_shared_buckets",
            "s7_union_topics", "t4_pending_acks", "u4_composition",
            "w1_tumbling_agg",
        ],
    },
    "corpus-heavy": {
        "kind": "batch", "warm": "warm_shared", "round_s": 12.0,
        "tables": {"documents": 600, "embeddings": 600},
        "queries": [
            "p109_jaccard_prefix_join", "p132_ivfpq_topk",
            "p15_minhash_full", "p18_dup_clusters",
        ],
    },
    # One round is one append. The stream mix is chosen, not measured: it
    # gives the dedup and windowing scenarios of FIXTURES.md (replayed
    # sequence ids, out-of-order event times) at rates picked so that every
    # append has replays to reject, late rows to drop and skewed keys.
    "topic-stream": {
        "kind": "stream", "round_s": 19.0,
        "new_rows": 1000, "replay_share": 0.1,
        "late_share": 0.05, "n_keys": 500, "zipf_s": 1.1, "window_ms": 60_000,
    },
}
HEAP = "3g"
# JVM start and the three set-ups, then each round at most this many times
# its reference time.
JVM_FIXED_S = 60
JVM_ROUND_FACTOR = 3
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the benchmark package compiles from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the benchmark package with sbt when its sources changed;
    return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit(f"graft sources not found under {ROOT}/src/main/scala")
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "bench-stamp")
    cp_file = os.path.join(TARGET, "bench-classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("[perfbench] building the benchmark package with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.splitlines()
    cp = [ln for ln in lines if os.pathsep in ln and "classes" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cp:
        log("\n".join(lines[-40:]))
        raise SystemExit("build failed")
    log(f"[perfbench] built in {time.time() - t0:.1f} s")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def rounds_for(cfg, seconds):
    return max(1, int(seconds // cfg["round_s"]))


def make_inputs(cfg, seed, rounds, data):
    if cfg["kind"] == "batch":
        gen.batch_fixtures(data, seed, cfg["tables"])
        return {}
    gen.stream_batches(data, seed, rounds, cfg["new_rows"], cfg["n_keys"], cfg["zipf_s"],
                       cfg["replay_share"], cfg["late_share"], cfg["window_ms"])
    return {"appends": rounds, "replay": int(round(cfg["new_rows"] * cfg["replay_share"]))}


def run_jvm(classpath, flags, out, timeout):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "graftbench.Main"]
    for k, v in flags.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(out, "jvm.log"), "w") as err:
        try:
            p = subprocess.run(cmd, stdout=err, stderr=err, timeout=timeout)
            rc = p.returncode
        except subprocess.TimeoutExpired:
            rc = f"timeout after {timeout:.0f} s"
    if rc != 0 or not os.path.exists(os.path.join(out, "run.json")):
        with open(os.path.join(out, "jvm.log")) as fh:
            log("".join(fh.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=38)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--mutate", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    name, cfg = a.workload, WORKLOADS[a.workload]

    classpath = build()
    out = os.path.join(WORK, f"{name}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    data = os.path.join(out, "data")
    rounds = rounds_for(cfg, a.seconds)
    facts = make_inputs(cfg, a.seed, rounds, data)
    flags = {"out": out, "data": data, "rounds": rounds, "cores": cores(), "trace": a.trace}
    if cfg["kind"] == "batch":
        flags.update({"workload": "batch", "queries": ",".join(cfg["queries"]),
                      "warm": cfg["warm"]})
    else:
        flags.update({"workload": "stream", "new-rows": cfg["new_rows"], "replay": facts["replay"],
                      "window-ms": cfg["window_ms"]})
    try:
        run_jvm(classpath, flags, out, JVM_FIXED_S + JVM_ROUND_FACTOR * rounds * cfg["round_s"])
        with open(os.path.join(out, "run.json")) as fh:
            rec = json.load(fh)
        result = evaluate(name, cfg, rec, out, data, rounds, facts, a)
    finally:
        # keep only the record and the log; the inputs and outputs are
        # regenerated by every run
        for d in os.listdir(out):
            if os.path.isdir(os.path.join(out, d)):
                shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    print(json.dumps(result), flush=True)


def evaluate(name, cfg, rec, out, data, rounds, facts, a):
    ops = report.ops_of(rec)
    failed = {o["id"]: o.get("error", "") for o in ops if not o["ok"]}
    correct = True
    if cfg["kind"] == "batch":
        by_rq = {(o["round"], o["name"]): o["id"] for o in ops}
        bad = checks.batch_results(data, out, rounds, cfg["queries"],
                                   rec["workload"]["oracle"],
                                   {k for k, v in by_rq.items() if v in failed},
                                   mutate=bool(a.mutate))
        for r, q, why in bad:
            correct = False
            print(f"CHECK FAILED {q} round {r}: {why}", flush=True)
            failed[by_rq[(r, q)]] = f"output differs from the oracle: {why}"
        topic_dir = None
    else:
        w = rec["workload"]
        topic_dir = os.path.join(out, os.path.basename(w["topic"]))
        index = {o["id"]: i for i, o in enumerate(ops)}
        per_append, final = checks.stream_results(
            data, out, topic_dir, cfg["new_rows"], cfg["window_ms"], w["accepted"],
            w["state_rows"], w["subscriptions"], {index[i] for i in failed},
            mutate=bool(a.mutate))
        for g, reasons in per_append.items():
            correct = False
            for why in reasons:
                print(f"CHECK FAILED append {g}: {why}", flush=True)
            failed[ops[g]["id"]] = reasons[0]
        for why in final:
            correct = False
            print(f"CHECK FAILED {why}", flush=True)
            for o in ops:
                failed.setdefault(o["id"], why)
    for o in ops:
        if o["id"] in failed:
            print(f"FAILED {name} round {o['round']} {o['name']}: {failed[o['id']]}", flush=True)
    attempted = len(ops)
    print(f"{name}: attempted {attempted} failed {len(failed)} "
          f"({rounds} rounds of {attempted // rounds} operations)", flush=True)

    kind = cfg["kind"]
    if a.trace:
        totals, per_op = report.per_layer(rec, kind)
        if kind == "stream":
            sent = (facts["appends"] * cfg["new_rows"]) + facts["replay"] * (facts["appends"] - 1)
            totals["produce.rejected"] = float(sent - totals["produce.accepted"])
        spans, self_s = report.trace_tree(rec)
        e2e, named = report.end_to_end(rec, kind, set(failed), out, topic_dir)
        path = os.path.join(WORK, f"trace-{name}-{a.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": name, "seed": a.seed, "totals": totals, "self_s": self_s,
                       "ops": [{"name": o["name"], "round": o["round"],
                                "ok": o["id"] not in failed,
                                "seconds": (o["end"] - o["start"]) / 1e9, "layers": per_op[o["id"]]}
                               for o in ops],
                       "spans": spans}, fh)
        for k, v in sorted(self_s.items()):
            print(f"self_s {k} {v:.4f} s", flush=True)
        if e2e:
            print(f"traced wall_s {e2e['wall_s']:.4f} s", flush=True)
        print(f"trace written to {os.path.relpath(path, ROOT)}", flush=True)
        metrics = {n: {"value": float(totals[n]), "unit": u} for n, u in report.LAYERS}
    else:
        e2e, named = report.end_to_end(rec, kind, set(failed), out, topic_dir)
        if e2e is None:
            raise SystemExit("every operation failed; no timing to report")
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in report.E2E}
        for k, (v, u) in list((k, (m["value"], m["unit"])) for k, m in metrics.items()) + list(named.items()):
            print(f"metric {k} {v:.6g} {u}", flush=True)
    return {"correct": correct, "attempted": attempted, "failed": len(failed),
            "metrics": metrics}


if __name__ == "__main__":
    main()
