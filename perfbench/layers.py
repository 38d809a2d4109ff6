"""Per-layer metrics and self times from a traced run's spans.

Spans: pass -> operation (entry/operator call = build, its consuming
action = action) -> micro-batch -> Spark job -> stage -> task. All
times are epoch milliseconds. Metrics are means per warm pass.
"""
import json
import os
import statistics
from collections import defaultdict

# layer of the deepest span active at an instant, shallow to deep
SWEEP_LAYERS = ["queries.build", "queries.action", "streaming.batch",
                "spark.driver.job", "spark.scheduler.stage", "spark.task"]

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "entry_modules.json")) as _f:
    ENTRY_MODULES = json.load(_f)


def warm_batches(res, warm):
    spans = [(p["t0"], p["t1"]) for p in res["passes"] if p["pass"] in warm]
    return [b for b in res["batches"]
            if any(t0 <= b["start"] < t1 for t0, t1 in spans)]


def _covered(iv, lo, hi):
    """Length of [lo, hi) covered by the union of intervals `iv`."""
    total, end = 0.0, lo
    for a, b in sorted(iv):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _index(res):
    tr = res["trace"]
    ops = {str(o["id"]): o for o in res["ops"]}
    stage_job = {}
    for j in tr["jobs"]:
        for s in j["stages"]:
            stage_job[s] = j
    f = tr["task_fields"]
    tasks = [dict(zip(f, t)) for t in tr["tasks"]]
    for t in tasks:
        j = stage_job.get(t["stage"])
        t["op"] = j["op"] if j else ""
    return ops, tasks, stage_job


def sweep(res):
    """Wall time of each pass's operations split by the deepest active
    layer. Per pass the parts sum to the pass's summed op time; time
    under no sub-span is 'unattributed'."""
    tr = res["trace"]
    _, tasks, stage_job = _index(res)
    stage_iv = defaultdict(list)
    for s in tr["stages"]:
        j = stage_job.get(s["stage"])
        if j and s["t0"] > 0:
            stage_iv[j["op"]].append((s["t0"], s["t1"]))
    job_iv, task_iv = defaultdict(list), defaultdict(list)
    for j in tr["jobs"]:
        job_iv[j["op"]].append((j["t0"], j["t1"]))
    for t in tasks:
        task_iv[t["op"]].append((t["t0"], t["t1"]))
    out = defaultdict(lambda: defaultdict(float))
    for o in res["ops"]:
        if o["error"] is not None:
            continue
        key = str(o["id"])
        spans = [(o["t0"], o["t_built"], 0), (o["t_built"], o["t1"], 1)]
        spans += [(b["start"], b["start"] + b["durations"].get(
            "triggerExecution", 0), 2) for b in res["batches"]
            if o["t0"] <= b["start"] < o["t1"]]
        spans += [(a, b, 3) for a, b in job_iv[key]]
        spans += [(a, b, 4) for a, b in stage_iv[key]]
        spans += [(a, b, 5) for a, b in task_iv[key]]
        cuts = sorted({o["t0"], o["t1"]} | {x for a, b, _ in spans
                                            for x in (a, b)
                                            if o["t0"] < x < o["t1"]})
        for lo, hi in zip(cuts, cuts[1:]):
            mid = (lo + hi) / 2
            depth = max((d for a, b, d in spans if a <= mid < b), default=-1)
            name = SWEEP_LAYERS[depth] if depth >= 0 else "unattributed"
            out[o["pass"]][name] += (hi - lo) / 1e3
    return out


def per_layer(res, warm, manifest, wrong=frozenset()):
    tr = res["trace"]
    ops, tasks, stage_job = _index(res)
    n = len(warm)
    wops = [o for o in res["ops"] if o["pass"] in warm
            and o["error"] is None and o["id"] not in wrong]
    wids = {str(o["id"]) for o in wops}
    wtasks = [t for t in tasks if t["op"] in wids]
    wjobs = [j for j in tr["jobs"] if j["op"] in wids]
    wstages = [s for s in tr["stages"]
               if stage_job.get(s["stage"], {}).get("op") in wids]
    warm_c = [p["counters"] for p in res["passes"] if p["pass"] in warm]

    def counter(k):
        return sum(c[k] for c in warm_c) / n
    wall = sum(o["t1"] - o["t0"] for o in wops) / 1e3
    stage_t0 = {s["stage"]: s["t0"] for s in tr["stages"]}

    def tsum(k):
        return sum(t[k] for t in wtasks)

    idle = 0.0
    jobs_by_op = defaultdict(list)
    for j in tr["jobs"]:
        jobs_by_op[j["op"]].append((j["t0"], j["t1"]))
    for o in wops:
        idle += (o["t1"] - o["t_built"]) - _covered(
            jobs_by_op[str(o["id"])], o["t_built"], o["t1"])
    pspans = [(p["t0"], p["t1"]) for p in res["passes"] if p["pass"] in warm]
    plan_ms = sum(ms for t, ms in tr["plans"]
                  if any(a <= t <= b for a, b in pspans))
    batches = warm_batches(res, warm)
    refresh = [o for o in wops if o["name"] == "graph_refresh"]
    in_bytes = tsum("input_bytes")
    if res["workload"] == "serve":
        # bytes the pruned lookups' index scans read (tasks of the stages
        # that hold a scan RDD of the index) over the size of the index
        # version each lookup queried
        stage_rdds = {s["stage"]: set(s["rdds"]) for s in tr["stages"]}
        read = size = 0
        for o in wops:
            if o.get("scan"):
                rdds = set(o["scan"]["rdds"])
                read += sum(t["input_bytes"] for t in wtasks
                            if t["op"] == str(o["id"])
                            and stage_rdds.get(t["stage"], set()) & rdds)
                size += o["scan"]["index_bytes"]
        scan_fraction = read / size if size else 0.0
    else:
        scan_fraction = in_bytes / n / manifest["bytes_total"]
    m = {
        "queries.build_s": (sum(o["t_built"] - o["t0"] for o in wops) / 1e3 / n, "s"),
        "queries.action_s": (sum(o["t1"] - o["t_built"] for o in wops) / 1e3 / n, "s"),
        # jobs an entry/operator call runs before its consuming action
        # (eager materializations); jobs AQE submits from its own
        # threads carry no engine call site, so the phase decides
        "operators.eager_jobs": (sum(
            1 for j in wjobs
            if j["t0"] < ops[j["op"]]["t_built"]) / n, "count"),
        "operators.graph_refresh_jobs": (
            sum(1 for j in wjobs if j["op"] in {str(o["id"]) for o in refresh})
            / max(len(refresh), 1), "count"),
        "sources.input_bytes": (in_bytes / n, "bytes"),
        "sources.input_records": (tsum("input_records") / n, "count"),
        "sources.scan_fraction": (scan_fraction, "ratio"),
        "streaming.batches": (len(batches) / n, "count"),
        "streaming.state_rows": (max([b["state_rows"] for b in batches],
                                     default=0), "count"),
        "streaming.state_memory_bytes": (max(
            [b["state_memory_bytes"] for b in batches], default=0), "bytes"),
        "streaming.late_rows_dropped": (sum(
            b["late_rows_dropped"] for b in batches) / n, "count"),
        "spark.driver.plan_ms": (plan_ms / n, "ms"),
        "spark.driver.idle_s": (idle / 1e3 / n, "s"),
        "spark.driver.codegen_compiles": (counter("codegen_compiles"), "count"),
        "spark.driver.codegen_ms": (counter("codegen_ms_total"), "ms"),
        "spark.scheduler.jobs": (len(wjobs) / n, "count"),
        "spark.scheduler.stages": (len(wstages) / n, "count"),
        "spark.scheduler.tasks": (len(wtasks) / n, "count"),
        "spark.scheduler.wait_s": (sum(
            max(0.0, t["t0"] - stage_t0.get(t["stage"], t["t0"]))
            for t in wtasks) / 1e3 / n, "s"),
        "spark.task.cpu_s": (tsum("cpu_ms") / 1e3 / n, "s"),
        "spark.task.run_s": (tsum("run_ms") / 1e3 / n, "s"),
        "spark.task.gc_s": (tsum("gc_ms") / 1e3 / n, "s"),
        "spark.task.busy_ratio": (tsum("run_ms") / 1e3 / (res["cores"] * wall),
                                  "ratio"),
        "spark.shuffle.write_bytes": (tsum("shuffle_write") / n, "bytes"),
        "spark.shuffle.read_bytes": (tsum("shuffle_read") / n, "bytes"),
        "spark.storage.spill_bytes": (tsum("spill_bytes") / n, "bytes"),
        "spark.storage.cached_bytes_peak": (tr["cached_bytes_peak"], "bytes"),
        "jvm.gc_s": (counter("gc_ms") / 1e3, "s"),
        "jvm.jit_ms": (counter("jit_ms"), "ms"),
    }
    return m


def breakdown(res, warm, wrong=frozenset()):
    """Workload-specific layer figures kept in the trace report: serve
    latency per operation kind, streaming phase times, and task CPU per
    engine module (entries mapped through entry_modules.json)."""
    ops, tasks, _ = _index(res)
    n = len(warm)
    wops = [o for o in res["ops"] if o["pass"] in warm
            and o["error"] is None and o["id"] not in wrong]
    out = {}
    by_name = defaultdict(list)
    for o in wops:
        by_name[o["name"]].append(o["t1"] - o["t0"])
    for name, v in sorted(by_name.items()):
        out[f"op.{name}.p50_ms"] = statistics.median(v)
    for phase in ["triggerExecution", "addBatch", "queryPlanning",
                  "walCommit", "commitOffsets"]:
        out[f"streaming.{phase}_ms"] = sum(
            b["durations"].get(phase, 0) for b in warm_batches(res, warm)) / n
    out["streaming.state_commit_ms"] = sum(
        b["state_commit_ms"] for b in warm_batches(res, warm)) / n
    cpu = defaultdict(float)
    for t in tasks:
        o = ops.get(t["op"])
        if o and o["pass"] in warm:
            mod = ENTRY_MODULES.get(o["name"], "operators")
            cpu[mod] += t["cpu_ms"] / 1e3 / n
    for mod, v in sorted(cpu.items()):
        out[f"{mod}.task_cpu_s"] = v
    return out
