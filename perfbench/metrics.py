"""Arithmetic of the benchmark: percentiles, digest matching, interval
unions, call-site attribution and the per-layer metrics of a traced run.
Pure functions over the JSON records that `perfbench.Main` writes;
`tests/` covers them."""
import math
import statistics

# Percentiles a tail may be read at, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10

# graft modules whose executions are reported one by one. `text` is left
# out: neither kept workload triggers an action from it (only the corpus
# capstone does).
MODULES = ("linkage", "dedup", "graph", "operators", "similarity",
           "impute", "checks", "sources")

# top-level graft objects that belong to a module package
TOP_LEVEL_MODULE = {"Tables": "sources"}


def rank(p, n):
    """1-based nearest rank of the p-th percentile of n samples."""
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    return min(n, max(1, math.ceil(round(p * n / 100.0, 6))))


def tail(samples):
    """(percentile, value, n) for the highest ladder percentile with at
    least TAIL_MIN_BEYOND samples ranked beyond it (nearest rank). Below 20
    samples no ladder step qualifies and the tail is the maximum, reported
    as percentile 100."""
    values = sorted(samples)
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    chosen = 100.0
    for p in TAIL_LADDER:
        if n - rank(p, n) >= TAIL_MIN_BEYOND:
            chosen = p
    return chosen, values[rank(chosen, n) - 1], n


FLOAT_RTOL = 1e-6


def digests_match(want, got, float_iterative=False, rtol=FLOAT_RTOL):
    """Compare two digests `n_rows:hash_sum|key_hash_sum|col=sum,...`:
    equal text, or the same row count, key hash and row hash with every
    float column sum within `rtol` (equal rows summed in another order).
    A `float_iterative` output's values move in their last bits when the
    input rows are reordered, so for it the row hash may differ too."""
    if want == got:
        return True
    if want is None or got is None:
        return False
    try:
        w_head, w_key, w_floats = want.split("|")
        g_head, g_key, g_floats = got.split("|")
    except ValueError:
        return False
    if w_key != g_key:
        return False
    if w_head != g_head and (not float_iterative or
                             w_head.split(":")[0] != g_head.split(":")[0]):
        return False
    w = dict(kv.split("=", 1) for kv in w_floats.split(",") if kv)
    g = dict(kv.split("=", 1) for kv in g_floats.split(",") if kv)
    if w.keys() != g.keys():
        return False
    for col, wv in w.items():
        gv = g[col]
        if wv == gv:
            continue
        if "null" in (wv, gv):
            return False
        a, b = float(wv), float(gv)
        if not math.isclose(a, b, rel_tol=rtol, abs_tol=rtol):
            return False
    return True


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals, each
    clipped to [lo, hi] when given. Empty and inverted intervals count 0."""
    clipped = []
    for start, end in intervals:
        if lo is not None:
            start = max(start, lo)
        if hi is not None:
            end = min(end, hi)
        if end > start:
            clipped.append((start, end))
    clipped.sort()
    total = 0
    cur_start = cur_end = None
    for start, end in clipped:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def module_of(details):
    """Module of the innermost `graft.*` frame in a call-site (one frame
    per line, innermost first): the package under `graft` (`linkage`,
    `checks`, ...), or the top-level object (`Etl`, `SparkEntry`,
    `GraftSession`; `Tables` counts as `sources`). Call sites with no graft
    frame come from the benchmark itself: `harness`."""
    for line in (details or "").splitlines():
        frame = line.strip().split("(", 1)[0]
        parts = frame.split(".")
        if len(parts) < 3 or parts[0] != "graft":
            continue
        head = parts[1]
        if head[:1].islower():
            return head
        obj = head.split("$", 1)[0]
        return TOP_LEVEL_MODULE.get(obj, obj)
    return "harness"


def attribute(execution, lane_spans):
    """Module an execution is credited to: that of its call site
    (module_of), or, when the harness triggered it, that of the spine lane
    whose span (a dict with `start_ms`, `end_ms` and `module`) it started
    in. Harness executions outside every lane stay `harness`."""
    module = module_of(execution["details"])
    if module != "harness":
        return module
    for span in lane_spans:
        if span["start_ms"] <= execution["start_ms"] <= span["end_ms"]:
            return span["module"]
    return "harness"


def unrepeated(per_pass, keys):
    """Indexes of the passes whose values of `keys` differ from the first
    pass's."""
    if not per_pass:
        return []
    first = [per_pass[0][k] for k in keys]
    return [i for i, d in enumerate(per_pass)
            if [d[k] for k in keys] != first]


def skew(stages, min_tasks=2):
    """max / median task time in the heaviest stage (largest summed task
    time) among stages with at least `min_tasks` tasks; 1.0 if none."""
    best = None
    for s in stages:
        durations = s["durations_ms"]
        if len(durations) < min_tasks:
            continue
        if best is None or sum(durations) > sum(best):
            best = durations
    if not best:
        return 1.0
    median = statistics.median(best)
    return max(best) / median if median > 0 else 1.0


def pass_layers(trace, pass_rec, cores, spine):
    """Per-layer metrics of one traced pass; `spine` lists the spine lanes
    as dicts with `name` and `module`."""
    pid = pass_rec["id"]
    lo, hi = pass_rec["start_ms"], pass_rec["end_ms"]
    wall = pass_rec["wall_s"]
    execs = [x for x in trace["executions"]
             if x["pass"] == pid and x["root"] == x["id"] and x["end_ms"] >= 0]
    stages = [s for s in trace["stages"] if s["pass"] == pid]
    actions = [a for a in trace["actions"] if a["pass"] == pid]
    mb = 1048576.0
    task_s = sum(s["run_ms"] for s in stages) / 1e3
    task_cpu = sum(s["cpu_ns"] for s in stages) / 1e9
    covered = union_length([(x["start_ms"], x["end_ms"]) for x in execs],
                           lo, hi) / 1e3
    # a stage of a nested execution writes on behalf of its root
    root_of = {x["id"]: x["root"] for x in trace["executions"]}
    writers = {root_of.get(s["exec"], s["exec"])
               for s in stages if s["output_bytes"] > 0}
    write_s = union_length([(x["start_ms"], x["end_ms"]) for x in execs
                            if x["id"] in writers], lo, hi) / 1e3
    out = {
        "driver.actions": len(execs),
        "driver.gap_s": max(0.0, wall - covered),
        "driver.cpu_s": pass_rec["cpu_s"] - task_cpu,
        "codegen.compiles": pass_rec["codegen_compiles"],
        "jit.compile_s": pass_rec["jit_s"],
        "scheduler.jobs": sum(1 for j in trace["jobs"] if j["pass"] == pid),
        "scheduler.stages": len(stages),
        "scheduler.tasks": sum(s["tasks"] for s in stages),
        "executor.busy_frac": task_s / (wall * cores) if wall > 0 else 0.0,
        "executor.task_s": task_s,
        "executor.cpu_s": task_cpu,
        "executor.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "jvm.gc_s": pass_rec["gc_s"],
        "jvm.heap_after_gc_peak_mb": pass_rec["heap_after_gc_peak_mb"],
        "plan.exchanges": sum(a["exchanges"] for a in actions),
        "shuffle.write_mb": sum(s["shuffle_write_bytes"] for s in stages) / mb,
        "shuffle.read_mb": sum(s["shuffle_read_bytes"] for s in stages) / mb,
        "shuffle.spill_mb": sum(s["spill_bytes"] for s in stages) / mb,
        "task.skew": skew(stages, min_tasks=2),
        "sources.scan_mb": sum(s["input_bytes"] for s in stages) / mb,
        "sources.write_mb": sum(s["output_bytes"] for s in stages) / mb,
        "sources.write_s": write_s,
        "Etl.core_s": pass_rec["core_s"],
        "checks.s": pass_rec["checks_s"],
    }
    module_of_lane = {lane["name"]: lane["module"] for lane in spine}
    lane_spans = [dict(s, module=module_of_lane[s["name"]])
                  for s in trace["spans"]
                  if s["pass"] == pid and s["name"] in module_of_lane]
    per_module = {m: [0.0, 0] for m in MODULES}
    for x in execs:
        m = attribute(x, lane_spans)
        if m in per_module:
            per_module[m][0] += (min(x["end_ms"], hi) - max(x["start_ms"], lo)) / 1e3
            per_module[m][1] += 1
    for m, (secs, n) in per_module.items():
        out[f"{m}.exec_s"] = max(0.0, secs)
        out[f"{m}.actions"] = n
    for lane in spine:
        out[f"lane.{lane['name']}_s"] = pass_rec["lanes"].get(lane["name"], 0.0)
    return out


def layers(trace, cores, spine):
    """Median per-layer metrics over the traced warm passes, plus the
    tracing overhead: median traced minus median untraced warm pass."""
    warm = [p for p in trace["passes"] if p["kind"] == "warm"]
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    per_pass = [pass_layers(trace, p, cores, spine) for p in traced]
    out = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
    out["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                               - statistics.median(p["wall_s"] for p in untraced))
    return out, per_pass
