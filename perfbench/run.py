#!/usr/bin/env python3
"""Benchmark of the graft engine: three workloads, one cold Spark
application per run, every answer checked.

Usage (from the repository root):
  python3 perfbench/run.py --workload <elt_taxi|curate_corpus|dash_mix>
      --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --all [--seed n] [--seconds s]   # all three

A run builds the program from source if needed (perfbench/build.py),
generates its inputs from the seed (perfbench/gen.py), runs the JVM
harness (perfbench/src) under a private java.io.tmpdir and Spark scratch
dir, checks the answers (perfbench/check.py), deletes everything it
wrote except its artifact under perfbench/out/, and prints one JSON
object as its last line. --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer ones from a run whose every measured pass is
traced. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("elt_taxi", "curate_corpus", "dash_mix")
TAXI_ROWS_PER_DROP = 30_000
CORPUS_DOCS = 500
WAREHOUSE_SF = 0.01
DASH_REQUESTS = 20
# measured passes per run: --seconds over a nominal pass length, so that
# every run of a workload does the same work; one pass at --seconds 30
NOMINAL_PASS_S = 30.0
JVM_TIMEOUT_S = 165
E2E = {  # name -> unit
    "setup_s": "s", "run_s": "s", "req_p50_ms": "ms", "req_p90_ms": "ms",
}
LAYER_UNITS = {
    "ingest.ingest_s": "s", "ingest.rows_per_s": "rows/s",
    "pipeline.gate_s": "s", "pipeline.materialize_s": "s",
    "pipeline.summary_s": "s", "schema.ddl_stmts": "count",
    "pipeline.out_bytes_per_row": "B/row",
    "text.langid_s": "s", "text.quality_s": "s", "text.repetition_s": "s",
    "text.linear_s": "s", "text.dupgram_s": "s", "text.decontam_s": "s",
    "text.manifest_s": "s", "dedup.clusters_s": "s", "dedup.split_s": "s",
    "ops.blocklist_s": "s", "ops.sample_s": "s",
    "query.construct_ms": "ms", "query.plan_ms": "ms", "query.exec_ms": "ms",
    "query.jobs": "count", "query.stages": "count",
    "util.zone_build_s": "s", "util.zone_dirs": "count",
    "util.zone_hit_ratio": "ratio",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_cpu_s": "s", "exec.core_util": "ratio",
    "exec.shuffle_bytes": "B", "exec.spill_bytes": "B",
    "exec.input_bytes": "B", "exec.output_bytes": "B",
    "setup.session_s": "s", "mem.peak_rss_mb": "MiB", "mem.peak_heap_mb": "MiB",
    "self.bench_s": "s", "self.ingest_s": "s", "self.pipeline_s": "s",
    "self.ops_s": "s", "self.text_s": "s", "self.dedup_s": "s",
    "self.query_s": "s", "trace.pass_s": "s", "trace.overhead_s": "s",
    "trace.overhead_frac": "ratio",
}
# per-layer metric -> the span whose duration it is
CALL_SPANS = {
    "ingest.ingest_s": "ingest.CsvIngest.ingest",
    "pipeline.gate_s": "pipeline.Pipeline.qualityGate",
    "pipeline.materialize_s": "pipeline.Pipeline.materializeObserved",
    "pipeline.summary_s": "ops.TaxiTransform.summary",
    "text.langid_s": "text.TextAnalysis.langId",
    "text.quality_s": "text.TextAnalysis.qualityScore",
    "text.repetition_s": "text.TextAnalysis.repetition",
    "text.linear_s": "text.CorpusStats.linearQuality",
    "text.dupgram_s": "text.CorpusStats.dupGramFraction",
    "text.decontam_s": "text.TextAnalysis.decontaminate",
    "text.manifest_s": "text.CorpusStats.shardManifest",
    "dedup.clusters_s": "dedup.Dedup.dedupClusters",
    "dedup.split_s": "dedup.Dedup.leakageSafeSplit",
    "ops.blocklist_s": "ops.Blocklist.bloomScrub",
    "ops.sample_s": "ops.Sampling.stratifiedSample",
}
COUNTERS = {"exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
            "exec.task_cpu_s": "task_cpu_s", "exec.spill_bytes": "spill_bytes",
            "exec.input_bytes": "input_bytes", "exec.output_bytes": "output_bytes"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Inclusive-method percentile (q in 1..99) and the sample count."""
    if len(xs) < 2:
        return (xs[0] if xs else 0.0), len(xs)
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1], len(xs)


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpus():
    return len(os.sched_getaffinity(0))


def make_inputs(workload, seed, data):
    """Generate the run's inputs; returns what the answers must equal."""
    if workload == "elt_taxi":
        exp = gen.taxi_drops(seed, TAXI_ROWS_PER_DROP, data)
        exp["added_column"] = gen.ADDED
        return exp
    if workload == "curate_corpus":
        gen.corpus(seed, CORPUS_DOCS, data)
    else:
        gen.warehouse(seed, WAREHOUSE_SF, data)
    return None


def run_jvm(workload, seed, passes, trace, data, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = build.java_cmd([
        "--workload", workload, "--data", data, "--work", work,
        "--passes", str(passes), "--trace", str(trace), "--cpus", str(cpus()),
        "--requests", str(DASH_REQUESTS)], tmp)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                             stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        shutil.copy(log, os.path.join(HERE, "out", f"{workload}-seed{seed}-failed.log"))
        with open(log) as f:
            tail = f.read()[-6000:]
        sys.stderr.write(tail + f"\nperfbench: JVM exited with {code}\n")
        sys.exit(2)
    with open(result) as f:
        res = json.load(f)
    with open(os.path.join(work, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    return res, spans


def check_answers(workload, res, expected, data, work):
    """(attempted, failed, messages) over the measured passes."""
    passes = res["passes"]
    attempted = res["ops_per_pass"] * len(passes)
    wrong = []
    if workload == "elt_taxi":
        for p in passes:
            wrong += check.elt(p["answers"], expected)
    elif workload == "curate_corpus":
        for p in passes:
            wrong += check.curate(p["answers"])
    else:
        with open(os.path.join(work, "pool.json")) as f:
            oracle = check.Oracle(data, json.load(f))
        try:
            for p in passes:
                wrong += check.dash(p["answers"]["requests"], res["setup_answers"],
                                    os.path.join(work, "results"), oracle)
        finally:
            oracle.close()
    return attempted, len(wrong), wrong


def children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def subtree(s, kids):
    out = [s]
    for c in kids.get(s["id"], []):
        out += subtree(c, kids)
    return out


def timed_calls(root, kids):
    """The timed calls of one pass: the pass span's children, answer
    checks excepted. On dash_mix each is one request."""
    return [c for c in kids.get(root["id"], []) if not c["layer"] == "check"]


def pass_roots(spans):
    return [s for s in spans if s["name"] == "bench.pass" and s["block"] >= 0]


def end_to_end(workload, res, spans):
    """A request is one dashboard query on dash_mix, and one pass (the
    whole chain) on the batch workloads, whose timed calls differ too much
    in kind for a percentile over them to mean anything."""
    if workload == "dash_mix":
        kids = children(spans)
        lat = [c["dur_ms"] for root in pass_roots(spans) for c in timed_calls(root, kids)]
    else:
        lat = [p["wall_s"] * 1e3 for p in res["passes"]]
    p50, n = percentile(lat, 50)
    p90, _ = percentile(lat, 90)
    values = {
        "setup_s": res["setup_s"],
        "run_s": median([p["wall_s"] for p in res["passes"]]),
        "req_p50_ms": p50, "req_p90_ms": p90,
    }
    return values, {"latency_samples": n, "passes": len(res["passes"])}


def per_layer(workload, res, spans):
    """Per-layer figures of the traced passes (median over them)."""
    kids = children(spans)
    passes = {p["block"]: p for p in res["passes"]}
    per_pass = []
    for root in pass_roots(spans):
        p = passes[root["block"]]
        ans = p["answers"]
        calls = timed_calls(root, kids)
        timed = [s for c in calls for s in subtree(c, kids)]
        v = {k: 0.0 for k in LAYER_UNITS}
        for metric, name in CALL_SPANS.items():
            v[metric] = sum(c["dur_ms"] for c in calls if c["name"] == name) / 1e3
        for metric, field in COUNTERS.items():
            v[metric] = sum(s[field] for s in timed)
        v["exec.shuffle_bytes"] = sum(s["shuffle_write_bytes"] for s in timed)
        v["exec.core_util"] = (sum(s["task_run_s"] for s in timed) /
                               (p["wall_s"] * res["cpus"]))
        for s in [root] + timed:
            if f"self.{s['layer']}_s" in v:
                v[f"self.{s['layer']}_s"] += s["self_ms"] / 1e3
        v["util.zone_build_s"] = sum(c["zone_build_s"] for c in calls)
        v["util.zone_dirs"] = p["zone_dirs"]
        v["util.zone_hit_ratio"] = sum(
            1 for c in calls if c["zone_build_s"] == 0 and c["zone_dirs"] == 0) / len(calls)
        if workload == "elt_taxi":
            v["ingest.rows_per_s"] = ans["raw_rows"] / v["ingest.ingest_s"]
            v["schema.ddl_stmts"] = ans["ddl_stmts"]
            v["pipeline.out_bytes_per_row"] = ans["out_bytes"] / ans["written_rows"]
        elif workload == "dash_mix":
            parts = {n: [] for n in ("construct", "plan", "exec")}
            for c in calls:
                for part in kids.get(c["id"], []):
                    parts[part["name"].split(".")[1]].append(part["dur_ms"])
            for n, xs in parts.items():
                v[f"query.{n}_ms"] = median(xs)
            sub = [subtree(c, kids) for c in calls]
            v["query.jobs"] = median([sum(s["jobs"] for s in t) for t in sub])
            v["query.stages"] = median([sum(s["stages"] for s in t) for t in sub])
        v["trace.pass_s"] = p["wall_s"]
        v["trace.overhead_s"] = p["trace_overhead_s"]
        v["trace.overhead_frac"] = p["trace_overhead_s"] / p["wall_s"]
        per_pass.append(v)
    out = {k: median([v[k] for v in per_pass]) for k in LAYER_UNITS}
    out["setup.session_s"] = res["session_s"]
    out["mem.peak_rss_mb"] = res["peak_rss_mb"]
    out["mem.peak_heap_mb"] = res["peak_heap_mb"]
    return out, {"traced_passes": len(per_pass)}


def untraced_run_s(workload, seed):
    """run_s of this checkout's untraced run of the same workload and
    seed, if there was one: the traced pass is compared against it."""
    p = os.path.join(HERE, "out", f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)["metrics"]["run_s"]


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                              capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def run(workload, seed, seconds, trace):
    load_before = load1()
    build.build()
    passes = max(1, int(seconds // NOMINAL_PASS_S))
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{uuid.uuid4().hex[:8]}")
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        t = time.time()
        expected = make_inputs(workload, seed, data)
        gen_s = time.time() - t
        res, spans = run_jvm(workload, seed, passes, trace, data, work)
        attempted, failed, wrong = check_answers(workload, res, expected, data, work)
        for w in wrong[:20]:
            print(f"WRONG {workload}: {w}", file=sys.stderr)
        if trace:
            values, samples = per_layer(workload, res, spans)
            units = LAYER_UNITS
            base = untraced_run_s(workload, seed)
            if base:
                samples["traced_pass_vs_untraced_run_s"] = values["trace.pass_s"] / base - 1
        else:
            values, samples = end_to_end(workload, res, spans)
            units = E2E
        kids = children(spans)
        diagnostics = {
            "workload": workload, "seed": seed, "trace": trace,
            "cpus": res["cpus"], "git_sha": git_sha(),
            "source_digest": build.source_digest(),
            "partitions": res["partitions"], "heap": build.HEAP,
            "peak_rss_mb": res["peak_rss_mb"], "peak_heap_mb": res["peak_heap_mb"],
            "load1_before": load_before, "load1_after": load1(),
            "jvm_load1": [res["load1_before"], res["load1_after"]],
            "samples": samples, "gen_s": gen_s,
            "failed_frac": failed / attempted, "wrong": wrong[:20],
            "pass_walls_s": [p["wall_s"] for p in res["passes"]],
            "calls": [[c["name"], round(c["dur_ms"], 1)] for root in pass_roots(spans)
                      for c in timed_calls(root, kids)],
            "requests": [[r["name"], round(r["total_ms"], 1), r["built_zone"]]
                         for p in res["passes"]
                         for r in p["answers"].get("requests", [])],
        }
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{workload}-seed{seed}-trace{trace}")
        with open(stem + ".json", "w") as f:
            json.dump({"diagnostics": diagnostics, "metrics": values}, f, indent=1)
        if trace:
            shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k, val in values.items():
        print(f"{workload:14s} {k:28s} {val:14.4f} {units[k]}")
    print(f"{workload:14s} {'failed_frac':28s} {failed / attempted:14.4f} ratio "
          f"({failed}/{attempted})")
    print("diagnostics " + json.dumps({k: v for k, v in diagnostics.items()
                                       if k not in ("requests", "calls")}))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": val, "unit": units[k]} for k, val in values.items()}}


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds: the JVM is killed, the run dir deleted


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    if a.all:
        results = {w: run(w, a.seed, a.seconds, a.trace) for w in WORKLOADS}
        print(json.dumps(results))
    else:
        print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
