#!/usr/bin/env python3
"""Run the benchmark N times per workload with distinct seeds and record
each end-to-end metric's median, quartiles, min and max, and its
quartile spread as a share of the median (the figure held against the
metric's bound in BENCHMARK.json).

    python3 perfbench/steadiness.py [--runs 10] [--first-seed 100]
        [--workloads NAME...] [--baseline EARLIER_STEADINESS_JSON ...]

Run from the repository root; writes perfbench/STEADINESS.md and
.bench_build/steadiness.json (raw runs, read by report.py).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def serve_drift():
    """Lookup latency of the second warm pass over the first's, per
    retrieval path, as a geometric mean over the paths (this run)."""
    with open(os.path.join(".bench_build", "last-serve.json")) as f:
        res = json.load(f)
    per = {}
    for o in res["ops"]:
        if o["kind"] == "lookup" and o["error"] is None and o["pass"] in (1, 2):
            per.setdefault(o["name"], {})[o["pass"]] = o["t1"] - o["t0"]
    return statistics.geometric_mean(v[2] / v[1] for v in per.values()
                                     if len(v) == 2)


def record(bench, runs, prefix):
    """Markdown tables of one set of runs, one per workload."""
    lines = []
    for w in [x["name"] for x in bench["workloads"]]:
        rs = runs[w]
        ok = sum(r["correct"] for r in rs)
        seeds = [r["seed"] for r in rs]
        lines += [f"## {prefix}{w}", "",
                  f"{len(rs)} runs, seeds {min(seeds)}..{max(seeds)}; "
                  f"correct in {ok}/{len(rs)} runs; failed operations: "
                  f"{sum(r['failed'] for r in rs)} of "
                  f"{sum(r['attempted'] for r in rs)} attempted.", "",
                  "| metric | unit | median | Q1 | Q3 | min | max | spread "
                  "| bound |", "|---|---|---|---|---|---|---|---|---|"]
        wide = []
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            q1, q2, q3 = quartiles(vals)
            spread = (q3 - q1) / q2
            if spread > m["bound"] / 3:
                wide.append(m["name"])
            lines.append(
                f"| {m['name']} | {m['unit']} | {q2:.4g} | {q1:.4g} | "
                f"{q3:.4g} | {min(vals):.4g} | {max(vals):.4g} | "
                f"{spread:.3f} | {m['bound']} |")
        if wide:
            lines += ["", "Spread above a third of the bound: "
                      + ", ".join(f"`{n}`" for n in wide) + "."]
        if w == "serve":
            d = [r["drift"] for r in rs]
            q1, q2, q3 = quartiles(d)
            lines += ["", "Within-run lookup drift (second warm pass's "
                      "lookup latency over the first's, per retrieval "
                      "path, geometric mean over the four paths): "
                      f"median {q2:.3f}, "
                      f"Q1 {q1:.3f}, Q3 {q3:.3f}, min {min(d):.3f}, "
                      f"max {max(d):.3f}; the second pass was slower in "
                      f"{sum(x > 1 for x in d)} of {len(d)} runs. A long "
                      "single session drifted upward (HNSW p50 80 → 92 → "
                      "102 ms over three rounds of 200 lookups). Each run "
                      "here is a fresh JVM making 8 warm lookups, so that "
                      "drift cannot build up across runs. Within a run the "
                      "JIT is still settling, and it outweighs any drift. "
                      "A drift that returns would show as this ratio above "
                      "1, and in the traced `spark.driver.plan_ms` and "
                      "`jvm.gc_s` of the later pass."]
        lines.append("")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    # re-measure only these workloads (none: only rewrite the record);
    # the others keep their stored runs
    ap.add_argument("--workloads", nargs="*")
    # earlier sets' steadiness.json: compare each median against them
    ap.add_argument("--baseline", nargs="*", default=[])
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [x["name"] for x in bench["workloads"]]
    store = os.path.join(".bench_build", "steadiness.json")
    runs = {}
    if a.workloads is not None and os.path.exists(store):
        with open(store) as f:
            runs = {w: r for w, r in json.load(f).items() if w in names}
    for w in names if a.workloads is None else a.workloads:
        runs[w] = []
        for i in range(a.runs):
            seed = a.first_seed + i
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(seed),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", "0"],
                capture_output=True, text=True, check=True).stdout
            r = json.loads(out.strip().splitlines()[-1])
            if w == "serve":
                r["drift"] = serve_drift()
            runs[w].append({"seed": seed, **r})
            print(w, seed, json.dumps(r), file=sys.stderr, flush=True)
    with open(store, "w") as f:
        json.dump(runs, f)
    lines = ["# Steadiness record", "",
             f"Untraced runs, one at a time, on a 4-core VM, `run_seconds` "
             f"{bench['run_seconds']}. Spread is (Q3 - Q1) / median, as "
             "`statistics.quantiles(values, n=4)` gives the quartiles, "
             "held against the metric's bound in BENCHMARK.json.", ""]
    lines += record(bench, runs, "")
    for i, path in enumerate(a.baseline, 1):
        with open(path) as f:
            base = json.load(f)
        lines += record(bench, base, f"Earlier set {i}: ")
        lines += [f"## This set against earlier set {i}", "",
                  "The same code, measured twice. Change of each median "
                  "against the earlier set's; the bound is the share by "
                  "which it may be worse.", "",
                  "| workload | metric | earlier median | this median | "
                  "change | bound |", "|---|---|---|---|---|---|"]
        for w in names:
            for m in bench["end_to_end"]:
                med = [statistics.median(r["metrics"][m["name"]]["value"]
                                         for r in rs)
                       for rs in (base[w], runs[w])]
                lines.append(
                    f"| {w} | {m['name']} | {med[0]:.4g} | {med[1]:.4g} | "
                    f"{med[1] / med[0] - 1:+.1%} | {m['bound']} |")
        lines.append("")
    with open(os.path.join(HERE, "STEADINESS.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
