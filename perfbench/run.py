#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload, one JSON line of metrics.

    python3 perfbench/run.py --workload pipeline|serve --seed N \
        --seconds S --trace 0|1

Run from the repository root. It builds the engine and the harness from
source (once per source state, cached under .bench_build/), generates
the seeded inputs, runs the harness JVM for the measuring time, checks
every timed output, and prints as its last line
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. A traced run
also keeps its spans in .bench_build/traces/ for perfbench/report.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DOC_COPIES = {"pipeline": 1, "serve": 1}
GEN_REPS = 3
RUN_LIMIT_S = 150       # harness JVM limit; build excluded, checks follow
# recall@6 pin for HNSW at ef=128 on clustered data (RecallCurveSpec)
RECALL_PINS = {"hnsw": 0.95}
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"),
            os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; cache the runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "SBT_OPTS" not in os.environ:
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log("building engine and harness (sbt) ...")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def generate(run_dir, seed, copies):
    """Generate the inputs GEN_REPS times; they must be byte-identical."""
    times, digests = [], []
    for r in range(GEN_REPS):
        out = os.path.join(run_dir, f"data{r}")
        t0 = time.perf_counter()
        manifest = gen.generate(out, seed, copies)
        times.append(time.perf_counter() - t0)
        digests.append(gen.tree_digest(out))
        if r:
            shutil.rmtree(out)
    return os.path.join(run_dir, "data0"), manifest, times, \
        len(set(digests)) == 1


def run_jvm(cp, args, run_dir, t_start):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + args)
    budget = RUN_LIMIT_S - (time.time() - t_start)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(budget, 10))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    with open(os.path.join(run_dir, "jvm.log")) as f:
        text = f.read()
    if code != 0:
        sys.stderr.write(text[-4000:])
        sys.exit(f"harness JVM failed ({code})")
    for line in text.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)


def end_to_end(res, gen_times, warm, wrong=frozenset()):
    """End-to-end metrics from the operations that neither failed nor
    were found wrong; micro-batches count only inside such operations."""
    ops = [o for o in res["ops"]
           if o["error"] is None and o["id"] not in wrong]

    def pass_s(p):
        return sum(o["t1"] - o["t0"] for o in ops if o["pass"] == p) / 1e3
    # the latency-sensitive unit: a micro-batch of the streaming ingest
    # (pipeline), or a single-query lookup (serve) taken per retrieval
    # path, so that every path weighs the same
    wops = [o for o in ops if o["pass"] in warm]
    if res["workload"] == "serve":
        kinds = {}
        for o in wops:
            if o["kind"] == "lookup":
                kinds.setdefault(o["name"], []).append(o["t1"] - o["t0"])
        lat = statistics.geometric_mean(
            statistics.median(v) for v in kinds.values())
    else:
        lat = statistics.median(
            b["durations"]["triggerExecution"] for b in res["batches"]
            if any(o["t0"] <= b["start"] < o["t1"] for o in wops))
    return {
        "setup_s": (statistics.median(gen_times)
                    + statistics.median(res["session_s"])
                    + statistics.median(res["setup_s"]), "s"),
        "cold_pass_s": (pass_s(0), "s"),
        "pass_s": (statistics.median(pass_s(p) for p in warm), "s"),
        "op_latency_ms": (lat, "ms"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(DOC_COPIES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test hook: make one operation fail or return a wrong result
    ap.add_argument("--inject", choices=["fail", "wrong"])
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("run from the repository root: engine sources not found")
    cp = build()
    t_start = time.time()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data, manifest, gen_times, reproducible = generate(
            run_dir, a.seed, DOC_COPIES[a.workload])
        out = os.path.join(run_dir, "result.json")
        args = ["--workload", a.workload, "--data", data,
                "--work", os.path.join(run_dir, "work"),
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", out]
        if a.inject:
            args += ["--inject", a.inject]
        run_jvm(cp, args, run_dir, t_start)
        # the last result per workload stays for inspection
        shutil.copy(out, os.path.join(BUILD, f"last-{a.workload}.json"))
        with open(out) as f:
            res = json.load(f)
        wrong = checks.check_outputs(res, data, ROOT)
        for k, pin in RECALL_PINS.items():
            if k in res["recall"] and res["recall"][k] < pin:
                wrong.update(o["id"] for o in res["ops"]
                             if o["name"].startswith(k) and o["error"] is None)
                log(f"{k} recall {res['recall'][k]:.3f} below pin {pin}")
        failed = sum(1 for o in res["ops"]
                     if o["error"] is not None or o["id"] in wrong)
        warm = [p["pass"] for p in res["passes"] if p["pass"] > 0]
        if a.trace:
            metrics = layers.per_layer(res, warm, manifest, wrong)
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            with open(os.path.join(BUILD, "traces",
                                   f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"result": res, "manifest": manifest}, f)
        else:
            metrics = end_to_end(res, gen_times, warm, wrong)
        # the result must carry exactly the metrics BENCHMARK.json lists
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
        want = {m["name"]: m["unit"] for m in spec}
        got = {k: u for k, (_, u) in metrics.items()}
        if got != want:
            sys.exit(f"metrics differ from BENCHMARK.json: {got} != {want}")
        print(json.dumps({
            "correct": failed == 0 and reproducible,
            "attempted": len(res["ops"]),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
