#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload eager-queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse
the build until a source file changes. See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
PLAN = os.path.join(HERE, "workloads.json")
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
SETUP_SAMPLES = 3
QUERY_WORKLOADS = ("lazy-queries", "eager-queries")
WORKLOADS = QUERY_WORKLOADS + ("agri-harvest",)
DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_newest():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project", "build.properties"), os.path.join(ROOT, "build.sbt"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the program and the benchmark; cache the runtime classpath."""
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_newest():
        return open(CLASSPATH).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-2000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def java_command(classpath, run_dir):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={run_dir}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + opens + ["-cp", classpath, "perfbench.Main"])


def start(classpath, run_dir, args):
    """Start a benchmark JVM in `run_dir`; return (process, spawn time)."""
    os.makedirs(run_dir, exist_ok=True)
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    spawned = time.time()
    proc = subprocess.Popen(java_command(classpath, run_dir) + args, cwd=run_dir,
                            stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT)
    log.close()
    return proc, spawned


def finish(proc, spawned, run_dir, deadline):
    """Wait for a benchmark JVM; return (result, seconds from spawn to its
    session being ready)."""
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "timeout"
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.isfile(result_path):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log"), errors="replace").read()[-4000:])
        fail(f"benchmark JVM ended with {code}")
    result = json.load(open(result_path))
    return result, result["ready_epoch_ms"] / 1000.0 - spawned


def query_list(plan, workload, run_dir):
    """Write the workload's pass list with expected outputs for the JVM."""
    path = os.path.join(run_dir, "queries.tsv")
    with open(path, "w") as f:
        for name in plan["workloads"][workload]["pass"]:
            want = plan["expected"][name]
            f.write(f"{name}\t{want['rows']}\t{want['checksum'] or '-'}\n")
    return path


def end_to_end(result, setups, workload):
    ops = result["ops"]
    warm = [op for op in ops if op["pass"] > 0 and not op["traced"]]
    lat = stats.latencies(warm)
    tail = stats.tail(lat)
    if tail is None:
        fail(f"only {len(lat)} warm operations; the tail needs at least 11")
    cold = result["passes"][0]
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_pass_s": (cold["end"] - cold["start"], "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tail[0], "s"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
        "heap_peak_mb": (max(result["heap_after_gc_bytes"]) / 2**20, "MB"),
    }
    attempted, failed = stats.failures(ops)
    notes = {"tail_percentile": round(tail[1], 1), "warm_samples": len(lat),
             "error_rate": failed / attempted}
    if workload == "agri-harvest":
        ok = [op for op in warm if op["error"] is None]
        batches = result["microbatches"]
        notes.update({
            "ingest_rows_per_s": sum(op["raw_rows"] for op in ok) / sum(lat),
            "commit_p50_s": statistics.median([op["commit_s"] for op in ok]),
            "microbatch_p50_s": statistics.median([b["batch_s"] for b in batches]) if batches else None,
            "bytes_stored_per_user_byte": statistics.median(
                [op["snapshot_bytes"] / op["input_bytes"] for op in ok]),
            "paged_scan_s": result["scan_s"],
        })
    return metrics, notes


JOB_SPANS = ("Tables.resolve", "operators.job", "spark.job")
BENCH_SPANS = ("queries.build", "spark.execute", "ingest.read", "sinks.commit", "sinks.read")
SLACK = 0.002  # listener times have millisecond resolution


def within(span, outer):
    return outer["start"] - SLACK <= span["start"] <= outer["end"] + SLACK


def per_layer(result, workload):
    """Per-layer metrics from a traced run: means per traced warm
    operation, the self time of each benchmark span, and the part of each
    operation that no span covers."""
    spans = result["spans"]
    op_spans = {s["op"]: s for s in spans if s["name"] == "op"}
    containers = sorted((s for s in spans if s["name"] == "op" or s["op"] == "streams"),
                        key=lambda s: s["start"])

    def owner(span):
        """The operation a span belongs to: its job group when that names
        one, else the operation running when it started (stream threads
        carry their own group). The output check's jobs belong to none."""
        if span["op"] in op_spans or span["op"] == "streams":
            return span["op"]
        if span["op"].endswith("/verify"):
            return None
        return next((c["op"] for c in containers if within(span, c)), None)

    by_op = {}
    for s in spans:
        if s["name"] != "op":
            by_op.setdefault(owner(s), []).append(s)
    traced = [op for op in result["ops"] if op["traced"] and op["pass"] > 0]
    total = {}

    def add(key, v):
        total[key] = total.get(key, 0.0) + v

    for op in traced:
        op_span = op_spans[op["id"]]
        mine = by_op.get(op["id"], [])
        kids = [s for s in mine if s["name"] in BENCH_SPANS]
        leaves = [s for s in mine if s["name"] not in BENCH_SPANS]
        for leaf in leaves:
            d = leaf["end"] - leaf["start"]
            parent = next((k["name"] for k in kids if within(leaf, k)), None)
            if leaf["name"] in JOB_SPANS:
                add("spark.scheduler.jobs", 1)
                add("spark.scheduler.stages", int(leaf["stages"]))
                add("spark.scheduler.tasks", int(leaf["tasks"]))
                add("spark.task.deser_s", int(leaf["task_deser_ms"]) / 1e3)
                add("spark.task.cpu_s", int(leaf["task_cpu_ns"]) / 1e9)
                add("spark.task.gc_s", int(leaf["task_gc_ms"]) / 1e3)
                add("spark.shuffle.read_bytes", int(leaf["shuffle_read_bytes"]))
                add("spark.shuffle.write_bytes", int(leaf["shuffle_write_bytes"]))
                add("spark.spill_bytes", int(leaf["spill_bytes"]))
                if parent == "queries.build":
                    add("queries.build_jobs", 1)
                if parent == "sinks.commit":
                    add("ingest.write_s", d)
                if leaf["name"] == "Tables.resolve":
                    add("Tables.schema_jobs", 1)
                    add("Tables.resolve_s", d)
                if leaf["name"] == "operators.job":
                    add("operators.jobs", 1)
                    add("operators.job_s", d)
            elif leaf["name"].startswith("spark.catalyst."):
                add(leaf["name"] + "_s", d)
                add("plans.exchanges", int(leaf.get("exchanges", 0)))
                add("plans.graft_nodes", int(leaf.get("graft_nodes", 0)))
        for k in kids:
            d = k["end"] - k["start"]
            inner = [(x["start"], x["end"]) for x in leaves if within(x, k)]
            add(k["name"] + "_s", d)
            add("self." + k["name"] + "_s", d - stats.union_length(inner, k["start"], k["end"]))
        add("uncovered_s", (op_span["end"] - op_span["start"]) - stats.union_length(
            [(k["start"], k["end"]) for k in kids], op_span["start"], op_span["end"]))
    metrics = {k: v / max(1, len(traced)) for k, v in total.items()}
    cold = result["passes"][0]
    metrics["spark.codegen.compile_s"] = cold["codegen_s"]
    metrics["spark.codegen.classes"] = cold["codegen_classes"]
    traced_ids = {op["id"] for op in traced} | {"streams"}
    batches = [s for s in spans if s["name"] == "streaming.batch" and owner(s) in traced_ids]
    passes = 1 if workload == "agri-harvest" else max(
        1, sum(1 for p in result["passes"] if p["traced"] and p["pass"] > 0))
    metrics["streaming.batches"] = len(batches) / passes
    if batches:
        metrics["streaming.batch_s"] = statistics.median([b["end"] - b["start"] for b in batches])
        metrics["streaming.overhead_s"] = statistics.median(
            [b["end"] - b["start"] - float(b["add_batch_s"]) for b in batches])
    if workload == "agri-harvest":
        ok = [op for op in traced if op["error"] is None] or [{"raw_rows": 0, "kept_rows": 0,
                                                                "files_written": 0, "snapshot_bytes": 0}]
        metrics["ingest.rows_kept_ratio"] = (
            sum(op["kept_rows"] for op in ok) / max(1, sum(op["raw_rows"] for op in ok)))
        metrics["ingest.files_written"] = statistics.median([op["files_written"] for op in ok])
        metrics["sinks.bytes_written"] = statistics.median([op["snapshot_bytes"] for op in ok])
        scan = [s for s in spans if s["name"] == "sources.scan"]
        if scan:
            metrics["sources.scan_s"] = scan[0]["end"] - scan[0]["start"]
    untraced = [op for op in result["ops"] if op["pass"] > 0 and not op["traced"]]
    metrics["trace.overhead_s"] = (statistics.median(stats.latencies(traced))
                                   - statistics.median(stats.latencies(untraced)))
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    deadline = started + DEADLINE_S
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a checkout of the program: build.sbt or src/main/scala is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    plan = json.load(open(PLAN))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    classpath = build()
    deadline = max(deadline, time.time() + 150)  # a first run may spend its time building
    run_dir = os.path.join(TARGET, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jargs = [args.workload, str(args.seed), str(args.seconds), str(args.trace), "."]
    if args.workload in QUERY_WORKLOADS:
        jargs += [os.path.join(HERE, plan["tables"]), query_list(plan, args.workload, run_dir)]
    # Set-up is sampled SETUP_SAMPLES times, one JVM at a time: the
    # workload's own, then JVMs that exit as soon as their session is ready.
    setups = []
    try:
        for i in range(1 if args.trace else SETUP_SAMPLES):
            d = run_dir if i == 0 else os.path.join(run_dir, f"setup-{i}")
            proc, spawned = start(classpath, d, jargs if i == 0 else ["setup", "."])
            try:
                res, ready = finish(proc, spawned, d, deadline)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
            if i == 0:
                result = res
            setups.append(ready)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ops = result["ops"]
    if args.workload == "agri-harvest":  # the scan and stream phase is one more operation
        ops = ops + [{"error": "; ".join(result["stream_errors"]) or None}]
    attempted, failed = stats.failures(ops)
    for op in ops:
        if op["error"]:
            print(f"perfbench: FAILED {op.get('id', 'streams')}: {op['error']}", file=sys.stderr)
    if failed:  # a run with a wrong or failed operation reports no timings
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}))
        sys.exit(1)
    if args.trace:
        metrics = per_layer(result, args.workload)
        wanted = bench["per_layer"]
        os.makedirs(os.path.join(TARGET, "traces"), exist_ok=True)
        spans_path = os.path.join(TARGET, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        with open(spans_path, "w") as f:
            for s in result["spans"]:
                f.write(json.dumps(s) + "\n")
        print(f"perfbench: {len(result['spans'])} spans written to {os.path.relpath(spans_path, ROOT)}")
        for k in sorted(metrics):
            print(f"perfbench: {args.workload} {k} = {metrics[k]:.6g}")
        out = {m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}
    else:
        metrics, notes = end_to_end(result, setups, args.workload)
        for k, (v, unit) in metrics.items():
            print(f"perfbench: {args.workload} {k} = {v:.6g} {unit}")
        for k, v in notes.items():
            print(f"perfbench: {args.workload} {k} = {v}")
        out = {m["name"]: {"value": metrics[m["name"]][0], "unit": m["unit"]} for m in bench["end_to_end"]}
    print(json.dumps({"correct": True, "attempted": attempted, "failed": 0, "metrics": out}))


if __name__ == "__main__":
    main()
