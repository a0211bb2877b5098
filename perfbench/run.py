#!/usr/bin/env python3
"""graft benchmark: three seeded workloads driven through graft's public
APIs from one JVM, with every output checked against a reference.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Run it from the root of a graft checkout. It builds the engine from
src/main/scala (see build.py), generates the workload's inputs from the
seed, runs one client in a closed loop for --seconds, checks the outputs
and prints the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) as one JSON object on the last line. METRICS.md describes the
workloads and what each metric measures.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import inputs  # noqa: E402
import reference  # noqa: E402

WORKLOADS = ("lookup", "ingest_notify", "corpus_dedup")
JVM_TIMEOUT_S = 150

# Self-time shares: the part of an operation's wall time spent in each
# layer's calls, outside the calls nested in them.
LAYER_SHARES = [
    "model.closure", "query.parse", "query.pattern", "operators.rollup",
    "sources.report_read", "ingest.upsert", "model.ingest_closure",
    "monitor.match", "streaming.deliver", "dedup.exact", "text.filter",
    "dedup.minhash", "dedup.cc", "dedup.weights", "pack.pack"]
SPAN_COUNTERS = {  # metric -> (span counter, unit, scale)
    "spark.jobs": ("jobs", "count", 1), "spark.stages": ("stages", "count", 1),
    "spark.tasks": ("tasks", "count", 1),
    "spark.sched_wait_ms": ("sched_wait_ms", "ms", 1),
    "spark.input_bytes": ("input_bytes", "bytes", 1),
    "spark.input_records": ("input_records", "count", 1),
    "spark.task_run_ms": ("task_run_ms", "ms", 1),
    "spark.task_cpu_ms": ("task_cpu_ns", "ms", 1e-6),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "bytes", 1),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", "bytes", 1),
    "spark.spill_bytes": ("spill_bytes", "bytes", 1),
    "spark.output_bytes": ("output_bytes", "bytes", 1)}
STREAM_SHARES = {"streaming.batch_pct": ["triggerExecution"],
                 "streaming.add_batch_pct": ["addBatch"],
                 "streaming.query_planning_pct": ["queryPlanning"],
                 "streaming.wal_commit_pct": ["walCommit", "commitOffsets"],
                 "streaming.state_commit_pct": ["state_commit_ms"]}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def provenance(seed, workload, cpus):
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(
        os.getcwd()))

    def git(*a):
        try:
            r = subprocess.run(["git", *a], capture_output=True, text=True,
                               env=env, timeout=20)
            return r.stdout.strip() if r.returncode == 0 else None
        except OSError:
            return None
    sha = git("rev-parse", "HEAD") if os.path.isdir(".git") else None
    dirty = bool(git("status", "--porcelain")) if sha else None
    return {"git_sha": sha, "git_dirty": dirty,
            "source_sha256": build._hash(build.engine_sources())[:16],
            "cpus": cpus, "seed": seed, "workload": workload}


# ------------------------------------------------------------------ inputs

def make_inputs(workload, seed, work):
    """Writes the workload's inputs; returns (engine config, check state)."""
    if workload == "lookup":
        inp = inputs.make_lookup(seed, work)
        return ({"db": os.path.abspath(inp["db"]), "warmup": inp["warmup"],
                 "requests": inp["requests"]}, inp)
    if workload == "ingest_notify":
        inp = inputs.make_ingest(seed, work)
        reps = [{"path": os.path.abspath(r["path"]), "readback": r["readback"],
                 "rows": len(r["orders"]) + len(r["lineitem"])}
                for r in inp["reports"]]
        return ({"db": os.path.abspath(inp["db"]),
                 "warehouse": os.path.abspath(inp["warehouse"]),
                 "reports": reps}, inp)
    truth = inputs.make_corpus(seed, work)
    return {"corpus_dir": os.path.abspath(work)}, truth


# ------------------------------------------------------------------ checks

def mark(op, error):
    """An op is good when it completed and its outputs matched."""
    if op["ok"] and error:
        op["error"] = error
    op["good"] = op["ok"] and not error


def check(workload, inp, res):
    """Marks each op good or not and returns (whole-run error or None,
    per-layer facts the checks derive)."""
    ops = res["ops"]
    facts = {}
    if workload == "lookup":
        T = reference.load_tables(inp["db"])
        reqs = inp["requests"]
        seen, repeats, keys = set(), 0, 0
        for r in ops:
            req = reqs[r["i"] % len(reqs)]
            mark(r, r["ok"] and reference.check_lookup(T, req, r["out"]))
            for k in req["ids"]:
                keys += 1
                repeats += (req["kind"], k) in seen
                seen.add((req["kind"], k))
        facts["repeated_key_share"] = repeats / keys if keys else 0.0
        return None, facts
    if workload == "ingest_notify":
        T = reference.load_tables(inp["db"])
        ref = reference.IngestReference(T, inp["initial"])
        want = ref.apply(inp["reports"][0])
        warm = res["warmup"]
        bad = [k for k in ("matched", "delivered", "wh")
               if warm.get(k) != want[k]]
        if "readback_error" in warm or not ref.readback_ok(warm["readback"]):
            bad.append("readback")
        err = f"warm-up report: {', '.join(bad)} wrong" if bad else None
        sub = merged = matched = delivered = written = rep_bytes = 0
        rb_tried = rb_failed = 0
        for r in ops:
            rep = inp["reports"][r["i"] + 1]
            want = ref.apply(rep)
            out = r.get("out", {})
            mark(r, ", ".join(k for k in ("matched", "delivered", "wh")
                              if out.get(k) != want[k]))
            if not r["good"]:
                continue
            sub += want["submitted"]
            merged += want["merged"]
            matched += len(want["matched"])
            delivered += len(want["delivered"])
            written += out["written_bytes"]
            rep_bytes += rep["bytes"]
            rb_tried += 1
            if "readback_error" in out or not ref.readback_ok(out["readback"]):
                rb_failed += 1
                facts.setdefault("readback_error", out.get(
                    "readback_error", "stale readback"))
        facts.update(
            merge_ratio=merged / sub if sub else 0.0,
            write_amp=written / rep_bytes if rep_bytes else 0.0,
            new_notif_ratio=delivered / matched if matched else 0.0,
            readback_failed_frac=rb_failed / rb_tried if rb_tried else 0.0)
        return err, facts
    err = reference.check_corpus(inp, res["first_rows"], res["first_pairs"])
    for r in ops:
        mark(r, err or (r["ok"] and r["out"]["digest"] != res["first_digest"]
                        and "output differs from the checked pass"))
    if ops and all(r["good"] for r in ops):
        facts["pairs"] = statistics.mean(r["out"]["pairs"] for r in ops)
    facts.update(reference.corpus_properties(inp, res["first_rows"]))
    return err, facts


# ----------------------------------------------------------------- metrics

def end_to_end(res, good, attempted_ns):
    lat = sorted(r["ns"] / 1e6 for r in good)
    total_s = attempted_ns / 1e9
    return {
        "setup_s": (res["setup_s"], "s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "ops_per_s": (len(lat) / total_s, "1/s"),
        "rows_per_s": (sum(r["rows"] for r in good) / total_s, "rows/s")}


def per_layer(res, good, facts, cpus):
    traced = [r for r in good if r["traced"]]
    untraced = [r for r in good if not r["traced"]]
    if not traced:
        fail("no traced operation completed")
    ids = {r["i"] for r in traced}
    spans = [s for s in res.get("spans", []) if s["op"] in ids]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e6

    def self_ms(s):
        return dur(s) - sum(dur(c) for c in children.get(s["id"], []))
    n = len(traced)
    op_ms = sum(r["ns"] for r in traced) / 1e6
    m = {}
    for name, (key, unit, scale) in SPAN_COUNTERS.items():
        m[name] = (sum(s[key] for s in spans) * scale / n, unit)
    m["spark.peak_exec_mem_bytes"] = (
        max([s["peak_exec_mem_bytes"] for s in spans] or [0]), "bytes")
    m["spark.task_busy_pct"] = (100.0 * sum(s["task_run_ms"] for s in spans)
                                / (op_ms * cpus), "%")
    m["spark.gc_ms"] = (sum(r["gc_ms"] for r in traced) / n, "ms")
    m["process.peak_rss_mb"] = (res["peak_rss_kb"] / 1024.0, "MB")
    for name in ("spark.plan", "result.collect"):
        m[f"{name}_ms"] = (
            sum(dur(s) for s in spans if s["name"] == name) / n, "ms")
    rows = sum(r["rows"] for r in traced)
    m["sources.rows_scanned_per_row_returned"] = (
        sum(s["input_records"] for s in spans) / rows if rows else 0.0,
        "ratio")
    for name in LAYER_SHARES:
        m[f"{name}_pct"] = (100.0 * sum(
            self_ms(s) for s in spans if s["name"] == name) / op_ms, "%")
    for name in ("model.closure", "dedup.cc"):
        m[f"{name}_jobs"] = (
            sum(s["jobs"] for s in spans if s["name"] == name) / n, "count")
    prog = res.get("stream_progress", [])
    tprog = [p for p in prog if p["op"] in ids]
    for name, keys in STREAM_SHARES.items():
        m[name] = (100.0 * sum(p.get(k, 0) for p in tprog for k in keys) /
                   op_ms, "%")
    m["streaming.state_rows"] = (prog[-1]["state_rows"] if prog else 0,
                                 "count")
    m["streaming.state_mem_bytes"] = (
        prog[-1]["state_mem_bytes"] if prog else 0, "bytes")
    m["ingest.merge_ratio"] = (facts.get("merge_ratio", 0.0), "ratio")
    m["ingest.write_amp"] = (facts.get("write_amp", 0.0), "ratio")
    m["monitor.new_notif_ratio"] = (facts.get("new_notif_ratio", 0.0),
                                    "ratio")
    m["readback.failed_frac"] = (facts.get("readback_failed_frac", 0.0),
                                 "ratio")
    m["readback.pct"] = (100.0 * sum(r["out"].get("readback_ns", 0)
                                     for r in traced) / 1e6 / op_ms, "%")
    m["dedup.pairs"] = (facts.get("pairs", 0.0), "count")
    med_t = statistics.median(r["ns"] for r in traced)
    med_u = statistics.median(r["ns"] for r in untraced) if untraced \
        else med_t
    m["trace.overhead_pct"] = (100.0 * (med_t / med_u - 1.0), "%")
    return m


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cpus = len(os.sched_getaffinity(0))
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    root = os.path.abspath(".bench_work")
    work = os.path.join(root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cfg, inp = make_inputs(args.workload, args.seed, work)
    cfg.update(workload=args.workload, cpus=cpus, work=work,
               trace=bool(args.trace), seconds=args.seconds)
    cfg_path, out_path = f"{work}/config.json", f"{work}/result.json"
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    jvm = ["java"] + build.JVM_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
        "graftbench.Main", cfg_path, out_path]
    with open(f"{work}/jvm.log", "w") as log:
        try:
            rc = subprocess.run(jvm, stdout=log, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"engine run exceeded {JVM_TIMEOUT_S}s; log in {work}")
    if rc != 0 or not os.path.exists(out_path):
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"engine run failed ({rc}); log in {work}")
    with open(out_path) as fh:
        res = json.load(fh)

    err, facts = check(args.workload, inp, res)
    ops = res["ops"]
    good = [r for r in ops if r["good"]]
    attempted, failed = len(ops), len(ops) - len(good)
    prov = provenance(args.seed, args.workload, cpus)
    prov.update(samples=len(good), attempted=attempted,
                traced=sum(r["traced"] for r in good),
                session_s=round(res["session_s"], 3))
    print("provenance " + json.dumps(prov))
    for r in ops:
        if not r["good"]:
            print(f"failed op {r['i']}: {r['error']}")
    if err:
        print(f"check failed: {err}")
    props = {k: round(v, 4) for k, v in facts.items()
             if k in ("repeated_key_share", "merge_ratio", "exact_dup_share",
                      "near_dup_share", "low_quality_share")}
    if props:
        print("input " + json.dumps(props))
    if facts.get("readback_error"):
        print(f"readback failed ({facts['readback_failed_frac']:.0%} of "
              f"reports): {facts['readback_error']}")
    if not good:
        fail("no operation completed correctly")

    all_ns = sum(r["ns"] for r in ops)
    metrics = per_layer(res, good, facts, cpus) if args.trace else \
        end_to_end(res, good, all_ns)
    lat = sorted(r["ns"] / 1e6 for r in good)
    tail = len(lat) - math.ceil(0.9 * len(lat))
    if not args.trace and tail >= 10:
        print(f"latency_p90_ms {lat[math.ceil(0.9 * len(lat)) - 1]:.3f} ms "
              f"(n={len(lat)})")
    print(f"failed_frac {failed / attempted:.4f} ratio "
          f"({failed}/{attempted})")
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")

    if args.trace:
        os.makedirs(os.path.join(root, "last"), exist_ok=True)
        with open(os.path.join(root, "last", f"{args.workload}-spans.jsonl"),
                  "w") as fh:
            for s in res.get("spans", []):
                fh.write(json.dumps(s) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    correct = err is None and failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
