#!/usr/bin/env python3
"""Traced runs -> "where the time goes" report.

    python3 perfbench/report.py [--seed 1]

Run from the repository root after perfbench/steadiness.py (its
untraced medians give the tracing overhead). Makes one traced run per
workload and writes perfbench/TRACE_REPORT.md: per-layer self times of
the warm passes (they add up to the traced pass time; time under no
sub-span is listed as unattributed), the per-layer metrics, the
workload-specific breakdown, and the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    steady_path = os.path.join(".bench_build", "steadiness.json")
    steady = {}
    if os.path.exists(steady_path):
        with open(steady_path) as f:
            steady = json.load(f)
    out = ["# Where the time goes (traced runs)", "",
           f"One traced run per workload, seed {a.seed}, `run_seconds` "
           f"{bench['run_seconds']}. Self time of a layer = the time its "
           "span is the deepest one open (operation build or action > "
           "micro-batch > Spark job > stage > task), summed over the warm "
           "passes' operations and divided by the number of warm passes, so "
           "the column adds up to the traced pass time. Task time is wall "
           "time with at least one task running, not task CPU.", ""]
    for w in [x["name"] for x in bench["workloads"]]:
        line = subprocess.run(
            bench["command"] + ["--workload", w, "--seed", str(a.seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", "1"],
            capture_output=True, text=True, check=True).stdout
        metrics = json.loads(line.strip().splitlines()[-1])["metrics"]
        with open(os.path.join(".bench_build", "traces",
                               f"{w}-{a.seed}.json")) as f:
            trace = json.load(f)
        res, manifest = trace["result"], trace["manifest"]
        warm = [p["pass"] for p in res["passes"] if p["pass"] > 0]
        sw = layers.sweep(res)
        per_pass = [sum(sw[p].values()) for p in warm]
        traced = statistics.median(per_pass)
        names = layers.SWEEP_LAYERS + ["unattributed"]
        out += [f"## {w}", "",
                "| layer | self time per warm pass (s) | share |",
                "|---|---|---|"]
        mean = {n: sum(sw[p].get(n, 0.0) for p in warm) / len(warm)
                for n in names}
        total = sum(mean.values())
        for n in names:
            out.append(f"| {n} | {mean[n]:.3f} | {mean[n] / total:.1%} |")
        out.append(f"| **sum** | **{total:.3f}** | |")
        out.append("")
        out.append(f"Traced pass_s (median of warm passes): {traced:.3f} s.")
        first, *restarts = res["session_s"]
        out.append(f"JVM start to the first live session: {first:.2f} s; "
                   "the two session restarts took "
                   + " and ".join(f"{t:.2f}" for t in restarts)
                   + " s (`setup_s` counts the median of the three).")
        if w in steady:
            un = statistics.median(r["metrics"]["pass_s"]["value"]
                                   for r in steady[w])
            out.append(f"Untraced pass_s (median of {len(steady[w])} runs): "
                       f"{un:.3f} s. Tracing overhead: {traced - un:+.3f} s "
                       f"({(traced - un) / un:+.1%}); the runs use different "
                       "seeds, so this includes run-to-run spread.")
        out += ["", "| per-layer metric | value | unit |", "|---|---|---|"]
        for k, v in metrics.items():
            out.append(f"| {k} | {v['value']:.6g} | {v['unit']} |")
        out += ["", "| breakdown (op medians; the rest per warm pass) "
                "| value |", "|---|---|"]
        for k, v in layers.breakdown(res, warm).items():
            out.append(f"| {k} | {v:.6g} |")
        out += ["", f"Inputs ({manifest['bytes_total']} bytes):", "",
                "| file | bytes | rows | row groups |", "|---|---|---|---|"]
        for e in manifest["files"]:
            out.append(f"| {e['file']} | {e['bytes']} | {e['rows']} | "
                       f"{e['row_groups']} |")
        out.append("")
    with open(os.path.join(HERE, "TRACE_REPORT.md"), "w") as f:
        f.write("\n".join(out))


if __name__ == "__main__":
    main()
