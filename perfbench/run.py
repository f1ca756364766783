"""graft pipeline benchmark: one closed-loop client, Spark local[nproc].

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the program from source (see
build.py), generates the workload's inputs from --seed (gen.py), runs the
JVM side (perfbench/scala) for --seconds of timed operations, checks the
program's outputs, writes the full record to .bench_records/ and prints
one JSON line: every end-to-end metric with --trace 0, every per-layer
metric with --trace 1. Exits non-zero, without a result line, when an
output is wrong or the run fails.

Workloads (BENCHMARK.json says why each was chosen):
  etl_sync      incremental tenant syncs: Reader -> Snapshot -> Export/Singer
  search_mixed  BM25 SearchIndex.topK queries; the last warm-up op and
                every 16th op after it ingest a streamed batch:
                DedupIndex.fold -> ClusterIndex.fold -> SearchIndex.fold
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

JVM_OPTS = ["-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData"] + [
    a for p in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"]
    for a in ("--add-opens", p + "=ALL-UNNAMED")]

# Per-workload shape. Input counts cover the most ops a run can reach.
WORKLOADS = {
    "etl_sync": {
        "primary": "sync", "writes": "sync", "warmup_ops": 3,
        "min_op_s": 1.5,
        "sizes": {"seed_orders": 20000, "seed_customers": 5000,
                  "sync_orders": 25000, "sync_customers": 5000},
    },
    "search_mixed": {
        "primary": "query", "writes": "ingest", "warmup_ops": 8,
        "min_op_s": 0.25,
        "sizes": {"n_seed": 2000, "batch_size": 200, "ingest_every": 16,
                  "check_every": 4},
    },
}

SPANS = ["sources.get", "operators.snapshot", "operators.export",
         "singer.to_singer", "ext.dedup_fold", "ext.cluster_fold",
         "ext.search_topk", "ext.search_fold"]
WRITERS = ["operators.snapshot", "operators.export", "singer.to_singer",
           "ext.dedup_fold", "ext.cluster_fold", "ext.search_fold"]
SETUP_SPANS = ["operators.snapshot_seed", "ext.dedup_build",
               "ext.cluster_build", "ext.search_build"]
# The per-layer metrics the traced result line carries; the record keeps
# every span's jobs, stages, tasks, busy ratio, shuffle, rows and bytes.
# The line stays under 2000 characters, so a 2000-character stdout tail
# holds it whole.
PER_LAYER = (
    [s + ".self_share" for s in SPANS] + [s + ".jobs" for s in SPANS] +
    ["operators.snapshot.bytes_written", "ext.dedup_build.setup_share",
     "ext.cluster_build.setup_share", "ext.search_build.setup_share",
     "op.self_ms", "trace.overhead_ms", "streaming.overhead_share",
     "spark.plan_ms", "spark.busy_ratio", "spark.cached_mb",
     "functions.sign_rows_per_s", "io.generations_read"])
# The JVM's time limit beyond --seconds: session start, set-up, warm-up,
# the last op cycle and the output check.
JVM_EXTRA_S = 130
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms",
             "items_per_s": "1/s", "write_p50_ms": "ms",
             "stored_bytes_per_input_byte": "ratio", "heap_live_mb": "MB"}


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def dir_bytes(*dirs):
    total = 0
    for d in dirs:
        for dirpath, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files)
    return total


def generate(workload, seed, seconds, inputs):
    """Write the workload's inputs; return (plan inputs, expectations)."""
    w = WORKLOADS[workload]
    sz = w["sizes"]
    n_ops = w["warmup_ops"] + int(seconds / w["min_op_s"]) + 1
    if workload == "etl_sync":
        plan, exp = gen.gen_etl(inputs, seed, n_ops, sz["seed_orders"],
                                sz["seed_customers"], sz["sync_orders"],
                                sz["sync_customers"])
        plan["records"] = [{s: len(ids[s]) for s in ids}
                           for ids in exp["ids"]]
    else:
        n_batches = n_ops // sz["ingest_every"] + 1
        plan, exp = gen.gen_corpus(inputs, seed, sz["n_seed"],
                                   sz["batch_size"], n_batches, n_ops)
        plan["ingest_every"] = sz["ingest_every"]
        # the warm-up ends on the first ingest, whose cold run is set-up
        plan["first_ingest"] = w["warmup_ops"] - 1
        plan["check_every"] = sz["check_every"]
    return plan, exp


def check_outputs(workload, res, exp, work, plan):
    """(attempted-op failures, list of problems) from the workload's own
    expected results."""
    problems, failed = [], 0
    chk = res["check"]
    if workload == "etl_sync":
        want = exp["after"][res["consumed"]]
        for s in want:
            if chk[s] != want[s]:
                problems.append("snapshot %s: got %s want %s"
                                % (s, chk[s], want[s]))
        for n in range(res["consumed"]):
            bad = False
            for s in ("orders", "customers"):
                ids = exp["ids"][n + 1][s]
                path = os.path.join(work, "out", "op-%05d" % n, s + ".singer")
                with open(path) as f:
                    lines = [json.loads(x) for x in f]
                types = [x["type"] for x in lines]
                recs = lines[1:-1]
                got = sorted(r["record"]["id"] for r in recs)
                if (types[:1] != ["SCHEMA"] or types[-1:] != ["STATE"]
                        or any(t != "RECORD" for t in types[1:-1])
                        or got != sorted(ids)
                        or any(r["record"]["seq"] != n + 1 for r in recs)):
                    bad = True
                    problems.append("singer %s of op %d is wrong" % (s, n))
            failed += bad
    else:
        last = (plan["batches"][res["consumed"] - 1]["last_id"]
                if res["consumed"] else 0)
        want = gen.expected_labels(exp["root_of"], last)
        got = {a: b for a, b in chk["labels"]}
        if got != want:
            missing = len(set(want) - set(got))
            extra = len(set(got) - set(want))
            wrong = sum(1 for d in set(got) & set(want) if got[d] != want[d])
            problems.append("cluster labels: %d missing, %d extra, %d wrong"
                            % (missing, extra, wrong))
        if chk["wrong"]:
            problems.append("%d of %d sampled queries differ from one-shot "
                            "BM25" % (chk["wrong"], chk["checked"]))
        failed = chk["wrong"]
    # a wrong final state counts as one failed op
    return max(failed, 1 if problems else 0), problems


def self_times(spans):
    """span id -> self seconds: duration minus what its children cover and
    minus the benchmark's own directory walks around them."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur = 0.0, s["start_s"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_s"]):
            lo, hi = max(c["start_s"], cur), min(c["end_s"], s["end_s"])
            if hi > lo:
                covered += hi - lo
                cur = hi
        out[s["id"]] = (s["end_s"] - s["start_s"] - covered
                        - s.get("walk_s", 0.0))
    return out


def layer_metrics(res, cores, setup_s, primary):
    """Every per-layer number of a traced run; PER_LAYER names the ones
    the result line prints."""
    spans = res["spans"]
    self_s = self_times(spans)
    ops = [o for o in res["ops"] if o["traced"]]
    roots = {s["op"]: s for s in spans if s["parent"] == -1 and s["op"] >= 0}
    traced_wall = sum(o["wall_s"] for o in ops)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    m = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    for name in SPANS:
        calls = [s for s in spans if s["name"] == name and s["op"] >= 0]
        n = max(1, len(calls))
        dur = sum(s["end_s"] - s["start_s"] for s in calls)
        put(name + ".self_share",
            sum(self_s[s["id"]] for s in calls) / traced_wall, "ratio")
        put(name + ".jobs", sum(s["jobs"] for s in calls) / n, "count")
        put(name + ".stages", sum(s["stages"] for s in calls) / n, "count")
        put(name + ".tasks", sum(s["tasks"] for s in calls) / n, "count")
        busy = sum(s["task_busy_s"] for s in calls)
        put(name + ".busy_ratio", busy / (dur * cores) if dur else 0.0,
            "ratio")
        put(name + ".shuffle_mb",
            sum(s["shuffle_bytes"] for s in calls) / n / 2 ** 20, "MB")
        put(name + ".rows_read", sum(s["rows_read"] for s in calls) / n,
            "count")
        if name in WRITERS:
            put(name + ".bytes_written",
                sum(s.get("bytes_written", 0) for s in calls) / n, "bytes")
    for name in SETUP_SPANS:
        dur = sum(s["end_s"] - s["start_s"] for s in spans
                  if s["name"] == name and s["op"] < 0)
        put(name + ".setup_share", dur / setup_s, "ratio")

    # op times of the workload's own op kind, traced and untraced
    walls = [o["wall_s"] for o in ops if o["kind"] == primary]
    plain = [o["wall_s"] for o in res["ops"]
             if not o["traced"] and o["kind"] == primary]
    put("op.wall_ms", median(walls) * 1e3, "ms")
    put("op.self_ms", median([self_s[roots[o["n"]]["id"]]
                                    for o in ops]) * 1e3, "ms")
    put("trace.overhead_ms",
        (median(walls) - median(plain)) * 1e3 if plain else 0.0,
        "ms")
    stream = [roots[o["n"]].get("streaming_overhead_s", 0.0) for o in ops]
    put("streaming.overhead_share", sum(stream) / traced_wall, "ratio")
    # op time that neither a child span nor streaming overhead explains
    put("op.unaccounted_ms", median(
        [self_s[roots[o["n"]]["id"]] - st for o, st in zip(ops, stream)])
        * 1e3, "ms")
    put("spark.plan_ms",
        sum(roots[o["n"]]["plan_ms"] for o in ops) / len(ops), "ms")
    per_op = lambda key: [sum(s[key] for s in by_op.get(o["n"], []))
                          for o in ops]
    put("spark.busy_ratio", median(
        [b / (o["wall_s"] * cores)
         for b, o in zip(per_op("task_busy_s"), ops)]), "ratio")
    put("spark.jobs_per_op", median(per_op("jobs")), "count")
    put("spark.tasks_per_op", median(per_op("tasks")), "count")
    put("spark.shuffle_mb_per_op",
        median(per_op("shuffle_bytes")) / 2 ** 20, "MB")
    put("spark.cached_mb", ops[-1]["spark.cached_mb"], "MB")
    for key, unit in [("functions.sign_rows_per_s", "1/s"),
                      ("ext.pairs_out", "count"),
                      ("io.generations_read", "count")]:
        vals = [o[key] for o in ops if key in o]
        put(key, median(vals) if vals else 0.0, unit)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root (src/main/scala not found)")
    cp = build.build(root)

    t_start = time.time()
    wl = WORKLOADS[a.workload]
    work = os.path.join(root, ".bench_work", "%s-s%d-t%d-%d" % (
        a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        plan_inputs, exp = generate(a.workload, a.seed, a.seconds, inputs)
        gen_s = time.time() - t0
        cores = os.cpu_count() or 1
        plan = {"workload": a.workload, "seconds": a.seconds,
                "trace": bool(a.trace), "cores": cores, "work": work,
                "inputs": plan_inputs, "warmup_ops": wl["warmup_ops"],
                "result": os.path.join(work, "result.json")}
        with open(os.path.join(work, "plan.json"), "w") as f:
            json.dump(plan, f)
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as lf:
            try:
                rc = subprocess.run(
                    ["java"] + JVM_OPTS +
                    ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                     "-cp", cp, "perfbench.Main",
                     os.path.join(work, "plan.json")],
                    stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                    timeout=a.seconds + JVM_EXTRA_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0:
            with open(log) as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            fail("JVM run failed (%s)" % rc)
        with open(plan["result"]) as f:
            res = json.load(f)
        result, record = summarize(a, wl, res, exp, work, gen_s, cores,
                                   plan_inputs)
        record["run_s"] = time.time() - t_start
        rec_dir = os.path.join(root, ".bench_records")
        os.makedirs(rec_dir, exist_ok=True)
        with open(os.path.join(rec_dir, "%s-%s-s%d-t%d.json" % (
                time.strftime("%Y%m%dT%H%M%S"), a.workload, a.seed,
                a.trace)), "w") as f:
            json.dump(record, f, indent=1)
        if not result["correct"]:
            fail("wrong output: " + "; ".join(record["problems"]))
        print(json.dumps(result, separators=(",", ":")))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def summarize(a, wl, res, exp, work, gen_s, cores, plan_inputs):
    """(result line, full record) of one run."""
    ops = res["ops"]
    if not any(o["kind"] == wl["primary"] for o in ops) or \
            not any(o["kind"] == wl["writes"] for o in ops):
        fail("the timed phase ran no %s or no %s op"
             % (wl["primary"], wl["writes"]))
    failed, problems = check_outputs(a.workload, res, exp, work,
                                     plan_inputs)
    failed = min(failed, len(ops))
    setup_s = gen_s + res["session_s"] + res["seed_s"] + res["warmup_s"]
    primary = [o["wall_s"] for o in ops if o["kind"] == wl["primary"]]
    writes = [o["wall_s"] for o in ops if o["kind"] == wl["writes"]]
    items = sum(o["items"] for o in ops if o["kind"] == wl["primary"])
    tail_p, tail_v = stats.tail(primary)
    state = os.path.join(work, "state")
    out = os.path.join(work, "out")
    stored = dir_bytes(state, out)
    consumed_inputs = consumed_input_bytes(a.workload, res, plan_inputs)
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": median(primary) * 1e3,
        "items_per_s": items / res["timed_s"],
        "write_p50_ms": median(writes) * 1e3,
        "stored_bytes_per_input_byte": stored / consumed_inputs,
        "heap_live_mb": res["heap_live_mb"],
    }
    e2e = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    layers = (layer_metrics(res, cores, setup_s, wl["primary"])
              if a.trace else None)
    metrics = {k: layers[k] for k in PER_LAYER} if a.trace else e2e
    for k in metrics:
        assert stats.valid_name(k), k
    result = {"correct": not problems, "attempted": len(ops),
              "failed": failed, "metrics": metrics}
    load = os.getloadavg()
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "cores": cores, "loadavg": load,
        "correct": not problems, "problems": problems,
        "attempted": len(ops), "failed": failed,
        "fail_ratio": failed / len(ops), "end_to_end": e2e,
        "per_layer": layers,
        "tail_percentile": tail_p, "tail_ms": tail_v * 1e3,
        "tail_n": len(primary),
        "tail_beyond": sum(1 for x in primary if x > tail_v),
        "write_n": len(writes),
        "setup": {"gen_s": gen_s, "session_s": res["session_s"],
                  "seed_s": res["seed_s"], "warmup_s": res["warmup_s"]},
        "stored_bytes": stored, "consumed_input_bytes": consumed_inputs,
        "timed_s": res["timed_s"], "inputs_exhausted": res["exhausted"],
        "consumed": res["consumed"], "ops": ops,
        "spans": res.get("spans"),
    }
    return result, record


def consumed_input_bytes(workload, res, plan):
    """Bytes of the generated inputs the run handed to the program."""
    n = res["consumed"]
    if workload == "etl_sync":
        return dir_bytes(*plan["syncs"][:n + 1])
    return dir_bytes(plan["watch"]) + os.path.getsize(plan["seed"])


if __name__ == "__main__":
    main()
