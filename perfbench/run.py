#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. It builds the program and this
harness from source (sbt, cached by a hash of the sources), prepares the
fixture for the seed, runs one JVM on local[N] (N = min(4, nproc) / 2), checks
every pass's outputs against the pinned digests, prints every metric with
its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones of a
traced run. The workloads, their lanes and input tables are defined in
perfbench.Main, which also fixes the number of passes a run measures, so
--seconds is accepted but does not change the measurement. See README.md.
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
from pathlib import Path

import metrics

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
FIXTURE = BENCH / "fixtures" / "sf0.1"
COMMITTED_SEED = 42

END_TO_END = (("setup_s", "s"), ("first_pass_s", "s"), ("run_s", "s"),
              ("input_rows_per_s", "rows/s"), ("cpu_s", "s"),
              ("heap_live_mb", "MB"))
# per-layer metric units; module metrics are added below, lane metrics
# from the spine lanes perfbench.Main reports
PER_LAYER = {
    "driver.actions": "count", "driver.gap_s": "s", "driver.cpu_s": "s",
    "codegen.compiles": "count", "jit.compile_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "executor.busy_frac": "fraction",
    "executor.task_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "jvm.gc_s": "s", "jvm.heap_after_gc_peak_mb": "MB",
    "plan.exchanges": "count", "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB", "task.skew": "ratio",
    "sources.scan_mb": "MB", "sources.write_mb": "MB", "sources.write_s": "s",
    "Etl.core_s": "s", "checks.s": "s", "trace.overhead_s": "s",
}
for _m in metrics.MODULES:
    PER_LAYER[f"{_m}.exec_s"] = "s"
    PER_LAYER[f"{_m}.actions"] = "count"
# per-pass counts that must repeat exactly between the traced passes
REPEATED = ("driver.actions", "plan.exchanges", "scheduler.stages")

RUN_LIMIT_S = 170          # a run (build excluded) must end within this
JVM_HEAP = "4g"
# JDK 17 module opens Spark needs outside spark-submit: the same list as
# `jdk17AddOpens` in the root build.sbt
ADD_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build --------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt unless the sources are
    unchanged since the last build; return the runtime classpath."""
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    digest = source_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    log("building graft and the harness with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(WORK / "build.log", "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=850)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed; see {WORK / 'build.log'}", 1)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


# ---- fixture ------------------------------------------------------------

def fixture_manifest():
    return json.loads((BENCH / "fixtures" / "manifest.json").read_text())


def row_counts(directory):
    import pyarrow.parquet as pq
    return {t: pq.ParquetFile(directory / f"{t}.parquet").metadata.num_rows
            for t in fixture_manifest()["rows"]}


def permute_table(src, dst, seed):
    """Write `src` to `dst` with its rows in a seed-determined order, keeping
    the schema, row-group size and compression of the committed file."""
    import numpy as np
    import pyarrow.parquet as pq
    meta = pq.ParquetFile(src).metadata
    table = pq.read_table(src)
    order = np.random.default_rng(seed).permutation(table.num_rows)
    rg = meta.row_group(0)
    pq.write_table(table.take(order), dst,
                   row_group_size=max(1, rg.num_rows),
                   compression=rg.column(0).compression.lower(),
                   version=meta.format_version)


def prepare_fixture(seed):
    """The fixture the program reads for `seed`: the committed sf0.1 tables
    for seed 42, a row permutation of them for any other seed. Cached per
    seed; the committed files are checked against their sha256 sums and
    the copy against the committed row counts before use."""
    base = WORK / "fixtures"
    target = base / f"seed{seed}" / "sf0.1"
    ok = target / ".ok"
    manifest = fixture_manifest()
    if ok.exists():
        return target
    if base.exists():
        shutil.rmtree(base)
    target.mkdir(parents=True)
    for t in manifest["rows"]:
        src, dst = FIXTURE / f"{t}.parquet", target / f"{t}.parquet"
        if hashlib.sha256(src.read_bytes()).hexdigest() != manifest["sha256"][t]:
            fail(f"{src} differs from its sha256 in fixtures/manifest.json", 1)
        if seed == COMMITTED_SEED:
            shutil.copyfile(src, dst)
        else:
            permute_table(src, dst, seed)
    counts = row_counts(target)
    if counts != manifest["rows"]:
        fail(f"fixture row counts {counts} != {manifest['rows']}", 1)
    ok.write_text("ok\n")
    return target


# ---- run ----------------------------------------------------------------

def cores():
    """Task slots: half of at most 4 cores. The other half is left to the
    driver and JIT threads, which use most of the CPU here (each pass
    regenerates and JIT-compiles ~170 classes); when tasks took every core,
    JIT contention swung warm passes by 2x between runs."""
    return max(1, min(4, os.cpu_count() or 1) // 2)


def run_jvm(classpath, workload, fixture, trace, seed):
    run_dir = WORK / "run"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    for d in ("tmp", "spark-local", "out"):
        (run_dir / d).mkdir(parents=True)
    (WORK / "traces").mkdir(exist_ok=True)
    result = run_dir / "result.json"
    trace_out = WORK / "traces" / f"{workload}_seed{seed}.json"
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if os.environ.get("JAVA_HOME") else "java"
    start = time.time()
    cmd = [str(java)]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--fixture", str(fixture),
            "--work", str(run_dir), "--trace", str(trace),
            "--cores", str(cores()), "--out", str(result),
            "--trace-out", str(trace_out)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    log_path = WORK / f"{workload}.log"
    with open(log_path, "w") as out:
        spawn = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S - (spawn - start))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload}: JVM ran past {RUN_LIMIT_S} s; see {log_path}", 1)
    if code != 0 or not result.exists():
        fail(f"{workload}: JVM exited {code}; see {log_path}", 1)
    record = json.loads(result.read_text())
    record["setup_s"] = record["ready_ms"] / 1e3 - spawn
    shutil.copyfile(result, WORK / f"{workload}.result.json")
    log(f"{workload}: jvm start {record['jvm_start_ms'] / 1e3 - spawn:.2f} s, "
        f"session {record['session_ms'] / 1e3 - spawn:.2f} s, "
        f"footers {record['ready_ms'] / 1e3 - spawn:.2f} s after spawn; "
        "passes " + ", ".join(f"{p['wall_s']:.2f}" for p in record["passes"]))
    log("  cpu " + ", ".join(f"{p['cpu_s']:.2f}" for p in record["passes"]) +
        "; heap " + ", ".join(f"{p['heap_live_mb']:.1f}" for p in record["passes"]))
    for p in record["passes"]:
        if p["lanes"]:
            log(f"  pass {p['id']} lanes " + ", ".join(
                f"{k} {v:.2f}" for k, v in p["lanes"].items()))
    shutil.rmtree(run_dir, ignore_errors=True)
    return record, (json.loads(trace_out.read_text()) if trace else None), \
        trace_out


def pass_problems(p, pinned, workload):
    """Reasons a pass failed: an exception, a failed CheckRunner check or
    golden row-count drift (both in `checks_failed`), or an output digest
    that does not match the pinned one (metrics.digests_match; only the
    outputs listed under `float_iterative` in digests.json may differ in
    their exact row hash)."""
    problems = []
    if p.get("error"):
        problems.append(p["error"])
    if p["checks_failed"]:
        problems.append(f"{p['checks_failed']} failed checks")
    want = pinned.get(workload, {})
    iterative = set(pinned.get("float_iterative", ()))
    got = p["digests"]
    for name in sorted(set(want) | set(got)):
        if not metrics.digests_match(want.get(name), got.get(name),
                                     float_iterative=name in iterative):
            problems.append(f"digest {name}: {got.get(name)} != {want.get(name)}")
    return problems


def end_to_end(record, fixture):
    passes = record["passes"]
    first = passes[0]
    warm = [p for p in passes if p["kind"] == "warm"]
    run_times = [p["wall_s"] for p in warm]
    rows = row_counts(fixture)
    rows_per_pass = sum(rows[t] for t in record["input_tables"])
    run_s = statistics.median(run_times)
    tail_p, tail_v, n = metrics.tail(run_times)
    values = {
        "setup_s": record["setup_s"],
        "first_pass_s": first["wall_s"],
        "run_s": run_s,
        "run_tail_s": tail_v,
        "input_rows_per_s": rows_per_pass / run_s,
        "cpu_s": statistics.mean(p["cpu_s"] for p in passes),
        "heap_live_mb": statistics.median(p["heap_live_mb"] for p in passes),
    }
    notes = {"run_s": f"median of n={n} warm passes",
             "run_tail_s": f"p{tail_p:g} of n={n} warm passes (printed only)",
             "cpu_s": f"mean of n={len(passes)} passes",
             "first_pass_s": "n=1", "setup_s": "n=1",
             "heap_live_mb": f"median of n={len(passes)} passes"}
    return values, notes


def run_one(workload, seed, trace, classpath, pinned, pin):
    t0 = time.time()
    fixture = prepare_fixture(seed)
    t1 = time.time()
    record, trace_rec, trace_path = run_jvm(
        classpath, workload, fixture, trace, seed)
    log(f"{workload}: fixture {t1 - t0:.2f} s, JVM {time.time() - t1:.2f} s")
    passes = record["passes"]
    if pin:
        digests = passes[0]["digests"]
        if any(p["digests"] != digests for p in passes):
            fail(f"{workload}: digests differ between passes; not pinned", 1)
        pinned[workload] = digests
        (BENCH / "digests.json").write_text(
            json.dumps(pinned, indent=2, sort_keys=True) + "\n")
        log(f"pinned {len(digests)} digests for {workload}")
    good = []
    for p in passes:
        problems = pass_problems(p, pinned, workload)
        if problems:
            log(f"{workload} pass {p['id']} FAILED: {'; '.join(problems)}")
        else:
            good.append(p)
    attempted, failed = len(passes), len(passes) - len(good)
    # a failed pass is never a timing; if every first or every warm pass
    # failed, the figures come from all passes and `correct` is false
    if {p["kind"] for p in good} == {"first", "warm"}:
        record["passes"] = good
    if trace:
        trace_rec["passes"] = record["passes"]
        values, per_pass = metrics.layers(trace_rec, record["cores"],
                                          record["spine"])
        units = dict(PER_LAYER)
        units.update((f"lane.{lane['name']}_s", "s")
                     for lane in record["spine"])
        trace_rec["layers"] = {"median": values, "per_pass": per_pass}
        trace_path.write_text(json.dumps(trace_rec))
        # a traced pass whose barrier, exchange or stage count differs from
        # the first traced warm pass's has run another plan: it fails
        unrepeated = metrics.unrepeated(per_pass, REPEATED)
        for i in unrepeated:
            log(f"{workload}: traced pass {i} counts " + ", ".join(
                f"{k}={per_pass[i][k]}" for k in REPEATED) +
                " differ from the first traced warm pass's")
        failed = min(attempted, failed + len(unrepeated))
        notes = {k: f"median of n={len(per_pass)} traced warm passes"
                 for k in values}
        log(f"trace written to {trace_path}")
    else:
        values, notes = end_to_end(record, fixture)
        units = dict(END_TO_END)
    print(f"== {workload} seed={seed} cores={record['cores']} "
          f"passes={attempted} failed_frac={failed / attempted:.4f}")
    for name, value in values.items():
        print(f"  {name:<34} {value:>14.6f} {units.get(name, 's'):<8} "
              f"{notes.get(name, '')}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]}
                        for k in units}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="linkage_sf01 or query_spine5_sf01")
    ap.add_argument("--seed", type=int, default=COMMITTED_SEED)
    ap.add_argument("--seconds", type=float, default=14,
                    help="accepted for the benchmark contract; a run "
                         "measures a fixed number of passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this run's output digests as the reference "
                         "(run with --seed 42 after an intended output change)")
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT}; run from a graft checkout")
    WORK.mkdir(exist_ok=True)
    classpath = build()
    pinned = json.loads((BENCH / "digests.json").read_text()) \
        if (BENCH / "digests.json").exists() else {}
    result = run_one(args.workload, args.seed, args.trace, classpath,
                     pinned, args.pin)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
