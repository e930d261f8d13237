#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the JVM harness from source,
generates the run's inputs from the seed, runs one workload in a fresh
JVM, checks its outputs and prints one JSON result line.

    python3 perfbench/run.py --workload request_serial --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. `--trace 0` reports the end-to-end
metrics; `--trace 1` adds a traced window after the untraced one and
reports the per-layer metrics, including the tracing overhead. The last
stdout line is `{"correct", "attempted", "failed", "metrics"}`; the line
before it records the run's environment and output digests. Build
outputs and scratch live under `.bench_build/perfbench/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import gen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")

# Set-ups per run: the first from process launch, then a session restart;
# setup_s is their median. Each costs a warm-up operation, so more would
# not fit the run budget.
SETUPS = 2
JVM_TIMEOUT_S = 170
JAVA_OPTS = [
    *[x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io",
                  "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                  "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action", "java.base/sun.util.calendar")
      for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
    "-Dfile.encoding=UTF-8", "-Xmx2g", "-XX:-UsePerfData",
]
STAGES = ["ingest", "enrich", "clean", "llm", "report", "sinks"]
MAINT = ["p05", "p06", "p08", "p12"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for base, dirs, files in os.walk(d):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(base, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt (offline) and return
    the runtime classpath; cached per source digest."""
    digest = source_digest()
    stamp, cp_file = os.path.join(CACHE, "build.stamp"), os.path.join(CACHE, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, digest
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx3g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    env["SBT_OPTS"] += " -XX:-UsePerfData"
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = [l for l in out.stdout.splitlines() if "scala-2.13" + os.sep + "classes" in l]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(CACHE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip(), digest


# ------------------------------------------------------------------ run

def run_jvm(cp, workload, inputs, work, seconds, trace, cpus):
    # the server runs with fallback dims and the offline mock LLM
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("AZURE_OPENAI_") and k != "GRAFT_DIMS_DIR"}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "raw.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JAVA_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
           "--workload", workload, "--inputs", inputs, "--out", out,
           "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus),
           "--setups", str(SETUPS)]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        launch = time.time() * 1000.0
        try:
            proc = subprocess.run(cmd + ["--launch-ms", repr(launch)], cwd=work, env=env,
                                  stdin=subprocess.DEVNULL, stdout=lf,
                                  stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness killed after {JVM_TIMEOUT_S} s")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


# --------------------------------------------------------------- checks

def reports_of(response):
    return [r["report"] for r in json.loads(response)["rows"]]


def check_outputs(workload, manifest, raw):
    """Output checks; returns (list of (name, ok, detail), output digest)."""
    checks, c = [], raw["checks"]
    h = hashlib.sha256()
    if workload == "request_serial":
        responses = c["responses"]
        for k in sorted(responses):
            h.update(k.encode() + b"\0" + responses[k].encode() + b"\0")
        checks.append(("sample report golden", "sample" in responses and
                       reports_of(responses["sample"]) == [gen.SAMPLE_REPORT], ""))
    else:
        rows = []
        for p in sorted(glob.glob(os.path.join(c["report_dir"], "*.json"))):
            with open(p, encoding="utf-8") as f:
                rows += [json.loads(l) for l in f if l.strip()]
        rows.sort(key=lambda r: r["record_id"])
        for r in rows:
            h.update(json.dumps([r["record_id"], r["report"], r["request"]],
                                ensure_ascii=False).encode())
        ids = [r["record_id"] for r in rows]
        checks.append(("one report per record",
                       len(ids) == manifest["corpus_records"] == len(set(ids)),
                       f"{len(ids)} reports, {manifest['corpus_records']} records"))
        sample = [r["report"] for r in rows if r["record_id"] == "R001"]
        checks.append(("sample report golden", sample == [gen.SAMPLE_REPORT], ""))
        if c["llm"]:  # the traced run's LLM probe
            llm = c["llm"]
            checks.append(("llm probe answers", llm["mismatches"] == 0,
                           f"{llm['mismatches']} differ from the mock's"))
            checks.append(("llm probe calls", llm["calls_match"] and llm["failures"] == 0,
                           f"{len(llm['calls'])} calls for {llm['expected_calls']} pairs, "
                           f"{llm['failures']} bad"))
    return checks, h.hexdigest()


# -------------------------------------------------------------- metrics

def latencies(ops):
    return [o["end"] - o["start"] for o in ops if o["ok"]]


def per_second(raw):
    """Completions over the time from the window start to the last one."""
    return len(latencies(raw["ops"])) * 1000.0 / (
        max(o["end"] for o in raw["ops"]) - raw["window_start"])


def end_to_end(raw):
    if not latencies(raw["ops"]):
        raise SystemExit("perfbench: no operation completed inside the window")
    return {
        "setup_s": (stats.median(raw["setup_s"]), "s"),
        "op_p50_ms": (stats.median(latencies(raw["ops"])), "ms"),
    }


def within(rows, lo, hi, at=0):
    return [r for r in rows if lo <= r[at] <= hi]


def per_layer(raw):
    t = raw["traced"]
    tr, ops = t["trace"], t["ops"]
    if not latencies(ops) or not latencies(raw["ops"]):
        raise SystemExit("perfbench: no operation completed inside a window")
    n = len(ops)
    lo, hi = min(o["start"] for o in ops), max(o["end"] for o in ops)
    jobs, tasks = within(tr["jobs"], lo, hi, 1), within(tr["tasks"], lo, hi)
    plans, comps = within(tr["plans"], lo, hi), within(tr["compiles"], lo, hi)
    spans = tr["spans"]
    col = lambda rows, i: sum(r[i] for r in rows)
    m = {}

    # whole traced window, per operation
    job_iv = [(j[1], j[2]) for j in jobs]
    m["spark.jobs"] = (len(jobs) / n, "count")
    m["spark.stages"] = (col(jobs, 3) / n, "count")
    m["spark.tasks"] = (len(tasks) / n, "count")
    m["spark.job_ms"] = (sum(e - s for s, e in job_iv) / n, "ms")
    m["spark.idle_ms"] = (((hi - lo) - stats.covered(job_iv, lo, hi)) / n, "ms")
    for name, i, unit in (("exec_run_ms", 1, "ms"), ("exec_cpu_ms", 2, "ms"), ("gc_ms", 3, "ms"),
                          ("shuffle_write_bytes", 4, "bytes"), ("shuffle_read_bytes", 5, "bytes"),
                          ("spill_bytes", 6, "bytes"), ("input_bytes", 7, "bytes"),
                          ("output_bytes", 8, "bytes")):
        m[f"spark.{name}"] = (col(tasks, i) / n, unit)
    m["plan.ms"] = (sum(p[1] + p[2] + p[3] for p in plans) / n, "ms")
    m["plan.queries"] = (len(plans) / n, "count")
    m["codegen.compiles"] = (t["codegen_count"] / n, "count")
    m["codegen.compile_ms"] = (col(comps, 1) / n, "ms")

    m["jvm.live_heap_mb"] = (t["live_heap_mb"], "MB")
    m["jvm.metaspace_mb"] = (t["jvm"]["metaspace_mb"], "MB")
    m["jvm.classes_loaded"] = (t["jvm"]["classes_loaded"], "count")

    # serve and pipeline probes (request workloads)
    by_body = lambda sname: {i: [s["end"] - s["start"] for s in spans
                                 if s["name"] == sname and s["op"] == i]
                             for i in {s["op"] for s in spans if s["name"] == sname}}
    alone, run = by_body("serve.alone"), by_body("pipeline.run")
    http = [stats.median(alone[i]) - stats.median(run[i]) for i in alone if i in run]
    burst = [s for s in spans if s["name"] == "serve.burst"]
    wait = [(s["end"] - s["start"]) - stats.median(alone[s["op"]]) for s in burst]
    m["serve.http_ms"] = (stats.median(http), "ms")
    m["serve.wait_ms"] = (stats.median(wait), "ms")
    # jobs at once: during the burst on request workloads, else the window
    b_lo, b_hi = ((min(s["start"] for s in burst), max(s["end"] for s in burst))
                  if burst else (lo, hi))
    m["serve.overlap_max"] = (stats.max_overlap(
        [(j[1], j[2]) for j in within(tr["jobs"], b_lo, b_hi, 1)]), "count")
    runs = [(s["start"], s["end"]) for s in spans if s["name"] == "pipeline.run"]
    per_run = []
    for s, e in runs:
        js = within(tr["jobs"], s, e, 1)
        per_run.append({
            "run_ms": e - s, "jobs": len(js), "stages": col(js, 3),
            "tasks": len(within(tr["tasks"], s, e)),
            "idle_ms": stats.self_time((s, e), [(j[1], j[2]) for j in js]),
            "plan_ms": sum(p[1] + p[2] + p[3] for p in within(tr["plans"], s, e)),
            "compiles": len(within(tr["compiles"], s, e)),
            "compile_ms": col(within(tr["compiles"], s, e), 1)})
    for k, unit in (("run_ms", "ms"), ("jobs", "count"), ("stages", "count"),
                    ("tasks", "count"), ("idle_ms", "ms"), ("plan_ms", "ms"),
                    ("compiles", "count"), ("compile_ms", "ms")):
        m[f"pipeline.{k}"] = (stats.median([r[k] for r in per_run]), unit)

    # LLM stub, per probe (batch_corpus)
    calls = raw["checks"].get("llm", {}).get("calls", [])
    call_iv = [(c[0], c[1]) for c in calls]
    m["llm.calls"] = (len(calls), "count")
    m["llm.useful_ratio"] = (len({(c[2], c[3]) for c in calls}) / len(calls) if calls else 0.0,
                             "ratio")
    m["llm.inflight_max"] = (stats.max_overlap(call_iv), "count")
    m["llm.wait_ms"] = (stats.covered(call_iv), "ms")

    # stage self times by prefix differencing (batch_corpus)
    prefix = {st: stats.median([s["end"] - s["start"] for s in spans
                                if s["name"] == f"prefix.{st}"]) for st in STAGES}
    prev = 0.0
    for st in STAGES:
        m[f"{st}.self_ms"] = (prefix[st] - prev if prefix[st] else 0.0, "ms")
        prev = prefix[st] or prev

    # maintenance stores, one traced cycle (request_serial)
    def phase(name):
        return [(s["start"], s["end"]) for s in spans if s["name"] == name]
    pub = [iv for p in MAINT for iv in phase(f"{p}.publish")]
    srv = [iv for p in MAINT for iv in phase(f"{p}.serve")]
    for p in MAINT:
        for kind in ("publish", "serve"):
            m[f"{p}.{kind}_ms"] = (stats.median([e - s for s, e in phase(f"{p}.{kind}")]), "ms")
    in_any = lambda rows, ivs, at=0: [r for r in rows if any(s <= r[at] <= e for s, e in ivs)]
    m["store.bytes_written"] = (col(in_any(tr["tasks"], pub), 8), "bytes")
    m["store.bytes_read"] = (col(in_any(tr["tasks"], srv), 7), "bytes")
    m["store.publish_jobs"] = (len(in_any(tr["jobs"], pub, 1)), "count")
    m["store.serve_jobs"] = (len(in_any(tr["jobs"], srv, 1)), "count")

    # the untraced window of the same run: tail, throughput, tracing overhead
    u = latencies(raw["ops"])
    pct, value, _ = stats.tail(u)
    m["op.tail_ms"] = (value, "ms")
    m["op.tail_pct"] = (pct, "%")
    m["op.samples"] = (len(u), "count")
    m["op.per_s"] = (per_second(raw), "1/s")
    both = raw["ops"] + ops
    m["ops.failed_ratio"] = (sum(not o["ok"] for o in both) / len(both), "ratio")
    m["trace.overhead_pct"] = ((stats.median(latencies(ops)) / stats.median(u) - 1.0) * 100.0,
                               "%")
    m["setup.cold_s"] = (raw["setup_s"][0], "s")
    return m


# ----------------------------------------------------------------- main

def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # when this process is terminated it still kills and waits for the JVM
    # (subprocess.run does so on any exception raised while it waits)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no engine sources next to the benchmark")
    cp, src_digest = build()
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(CACHE, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=CACHE)
    try:
        inputs = os.path.join(work, "inputs")
        manifest = gen.generate(a.workload, a.seed, inputs)
        raw = run_jvm(cp, a.workload, inputs, work, a.seconds, a.trace, cpus)
        checks, out_digest = check_outputs(a.workload, manifest, raw)
        metrics = per_layer(raw) if a.trace else end_to_end(raw)
        ops = raw["ops"] + (raw["traced"]["ops"] if a.trace else [])
        failed = sum(not o["ok"] for o in ops) + sum(not ok for _, ok, _ in checks)
        info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "why": manifest["why"],
                "input_digest": manifest["input_digest"], "output_digest": out_digest,
                "checks": checks, "errors": sorted({o["error"] for o in ops if not o["ok"]}),
                "setup_s": raw["setup_s"], "env": dict(raw["env"], git_commit=git_commit(),
                                                         source_digest=src_digest)}
        os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
        with open(os.path.join(CACHE, "results", f"{a.workload}-trace{a.trace}.json"), "w") as f:
            json.dump({"info": info, "metrics": metrics, "raw": raw}, f)
        print(json.dumps(info, ensure_ascii=False))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(ops) + len(checks),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
