#!/usr/bin/env python3
"""Full-result benchmark of the graft engine, one workload per run.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --refresh-digests

Run from the root of a checkout. The first run of a source state builds
the program and the harness from source with sbt (offline) and copies the
compiled classes into .bench_build/perfbench/build-<source hash>; a later
run with the same sources runs those copies. Each run starts one fresh JVM
(see harness/.../Harness.scala): set-up, untimed warm-up passes, then
measured passes over the workload's queries in an order drawn from --seed.
A canary JVM of its own reads the machine's speed just before it, in a
pause after set-up and after every pass (with the run's JVM stopped) and
just after it. Every result is checked against digests.json.

The last line of standard output is one JSON object: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. The line before it holds
the details: raw and canary-adjusted values, the machine record, the
canary readings and any failures. The same details, with every
execution, are kept in .bench_build/perfbench/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
DIGESTS = os.path.join(HERE, "digests.json")
JVM_TIMEOUT_S = 150
# a canary JVM warms its own JIT with 30 slices, then reads 80 slices
# (about 0.25 s) before and after the run's JVM and 50 in each of its pauses
CANARY_HEAP, CANARY_WARMUP_SLICES = "256m", 30
CANARY_EDGE_SLICES, CANARY_PAUSE_SLICES = 80, 50
CANARY_TIMEOUT_S = JVM_TIMEOUT_S + 20
PAUSE_LINE = "perfbench-pause"
BUILD_TIMEOUT_S = 800

# the heap in 2 MB pages, mapped before main runs: fewer TLB misses on the
# random reads of hash joins (see README, JVM flags)
JVM_FLAGS = ["-XX:+UseTransparentHugePages", "-XX:+AlwaysPreTouch"]

# Spark 4 on JDK 17 outside spark-submit (the program's build.sbt sets the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# per-pass layer metrics that are timings: canary-adjusted, with a raw.* twin
LAYER_TIMINGS = [
    "queries.build_s", "plans.s", "plans.analysis_s", "plans.optimization_s",
    "plans.planning_s", "exec.s", "exec.task_run_s", "exec.task_cpu_s",
    "exec.task_wait_s", "exec.gc_s",
]
LAYER_UNITS = {
    "queries.build_jobs": "count", "queries.storage_blocks_held": "count",
    "plans.exchanges": "count", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.busy_cores": "cores",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "proc.heap_live_mb": "MB",
}
# Per-query counters that must repeat exactly from one traced pass to the
# next. Task counts and shuffle bytes repeat only between runs with the same
# seed: Spark seeds a sort's range-partition sample with the RDD id, which
# depends on everything the session ran before, and AQE coalesces partitions
# by the resulting byte counts.
REPEATING = ["jobs", "stages"]
# per-pass counts that report.py compares across traced runs
PASS_COUNTS = ["jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
               "spill_bytes"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles program + harness once per source state; returns the classpath.

    sbt compiles into target/ directories that any later build of other
    sources overwrites, so the compiled classes are copied into a directory
    named after the source hash, and the classpath names the copies."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        die(f"no program to build: {ROOT} has no build.sbt and src/main")
    digest = source_hash()
    dest = os.path.join(OUT, f"build-{digest}")
    cp_file = os.path.join(dest, "classpath.txt")
    if os.path.isfile(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        die(f"build failed (exit {proc.returncode}); see {log_path}")
    shutil.rmtree(dest, ignore_errors=True)
    cp = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            copy = os.path.join(dest, f"classes{i}")
            shutil.copytree(entry, copy)
            entry = copy
        cp.append(entry)
    if source_hash() != digest:
        die("the sources changed during the build; run again")
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(os.pathsep.join(cp))
    os.replace(cp_file + ".tmp", cp_file)
    return os.pathsep.join(cp)


def task_slots():
    return min(CONFIG["max_task_slots"], len(os.sched_getaffinity(0)))


def java(cp, heap, main, args):
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xmx{heap}", f"-Xms{heap}"] + JVM_FLAGS + ["-cp", cp, main] + args)


class Canary:
    """A canary JVM of its own that stays up for the whole run and takes
    readings on request: before the run's JVM starts, in every pause of it
    (with that JVM stopped) and after it has exited."""

    def __init__(self, cp):
        self.proc = subprocess.Popen(
            java(cp, CANARY_HEAP, "perfbench.Canary", [str(task_slots()), str(CANARY_WARMUP_SLICES)]),
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            start_new_session=True)
        self.timer = threading.Timer(CANARY_TIMEOUT_S, kill_group, [self.proc])
        self.timer.start()

    def read(self, slices):
        """Slice times in seconds."""
        self.proc.stdin.write(f"{slices}\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            die(f"canary exited with {self.proc.wait()}", 1)
        return json.loads(line)

    def close(self):
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=10)
        except (OSError, subprocess.TimeoutExpired):
            pass
        finally:
            self.timer.cancel()
            kill_group(self.proc)


def kill_group(proc):
    """Kills the process group of `proc` (its own session) and waits for it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def run_harness(cp, name, queries, seed, warmup, passes, trace, canary=None):
    """One JVM run; returns the harness's result dict and the canary readings
    taken in its pauses (each a list of slice times)."""
    tag = f"{name}-seed{seed}-trace{int(trace)}"
    work = os.path.join(OUT, "work", name)
    # a fresh warehouse each run: builders that materialize to it must
    # write in every run's warm-up pass, not only in the first run
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    out = os.path.join(work, "result.json")
    spans = os.path.join(OUT, "results", f"{tag}-spans.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    cmd = java(cp, CONFIG["heap"], "perfbench.Harness", [
        f"data={os.path.join(HERE, CONFIG['data'])}", f"queries={','.join(queries)}",
        f"seed={seed}", f"warmup={warmup}", f"passes={passes}", f"trace={int(trace)}",
        f"out={out}", f"spans={spans}"])
    cmd[1:1] = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(task_slots()))
    env.pop("SPARK_DRIVER_MEM", None)
    readings = []
    with open(os.path.join(OUT, "logs", f"{tag}.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.PIPE, text=True, start_new_session=True)
        timer = threading.Timer(JVM_TIMEOUT_S, kill_group, [proc])
        timer.start()
        try:
            for line in proc.stdout:
                if line.strip() != PAUSE_LINE:
                    log.write(line)
                    continue
                if canary:
                    # stop the whole JVM, so none of its threads (GC, JIT,
                    # Spark's) runs while the canary reads the machine
                    os.killpg(proc.pid, signal.SIGSTOP)
                    try:
                        readings.append(canary.read(CANARY_PAUSE_SLICES))
                    finally:
                        os.killpg(proc.pid, signal.SIGCONT)
                proc.stdin.write("go\n")
                proc.stdin.flush()
            code = proc.wait()
        except OSError:
            code = "a broken pipe"
        finally:
            timed_out = not timer.is_alive()
            timer.cancel()
            kill_group(proc)
    if timed_out:
        code = f"a timeout after {JVM_TIMEOUT_S} s"
    if code != 0 or not os.path.isfile(out):
        die(f"harness exited with {code}; see {log.name}", 1)
    with open(out) as fh:
        return json.load(fh), readings


def tail(xs):
    """Highest percentile with at least ten samples beyond it: (value, pct)."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def summarize(res, canary_before, canary_during, canary_after, name, seed, trace, expected):
    # one canary factor per run: reference / median of every reading, taken
    # before the run's JVM, in its pauses and after it (see README)
    canary = statistics.median(canary_before + sum(canary_during, []) + canary_after)
    factor = CONFIG["reference_canary_s"] / canary
    execs = res["executions"]

    def ok(e):
        return "error" not in e and e.get("digest") == expected.get(e["query"])

    bad = [{"pass": e["pass"], "query": e["query"],
            "error": e.get("error", f"digest {e.get('digest')} != {expected.get(e['query'])}")}
           for e in execs if not ok(e)]
    timed = [e for e in execs if e["pass"] >= 1]
    attempted = len(timed)
    failed = sum(1 for e in timed if not ok(e))
    pass_raw = {p["pass"]: sum(e["latency_s"] for e in timed if e["pass"] == p["pass"])
                for p in res["passes"] if p["pass"] >= 1}
    latencies = [e["latency_s"] for e in timed]
    tail_s, pct = tail(latencies)
    # each query's median latency, summarized by the geometric mean over the
    # queries, so every query weighs the same (see README)
    p50 = statistics.geometric_mean(
        statistics.median(e["latency_s"] for e in timed if e["query"] == q)
        for q in sorted({e["query"] for e in timed}))
    raw = {"setup_s": res["setup"]["setup_s"],
           "pass_s": statistics.median(pass_raw.values()),
           "latency_p50_s": p50,
           "latency_tail_s": tail_s}
    adjusted = {k: v * factor for k, v in raw.items()}
    adjusted["success_rate"] = (attempted - failed) / attempted
    detail = {
        "workload": name, "seed": seed, "trace": int(trace),
        "measured_passes": len(pass_raw), "executions": attempted,
        "latency_tail_percentile": round(pct, 2),
        "raw": raw, "adjusted": adjusted,
        "machine": dict(res["machine"], task_slots_env=task_slots(),
                        heap_flag=f"-Xmx{CONFIG['heap']}",
                        canary_threads=task_slots(),
                        reference_canary_s=CONFIG["reference_canary_s"], canary_s=canary,
                        canary_s_before=statistics.median(canary_before),
                        canary_s_pauses=[statistics.median(r) for r in canary_during],
                        canary_s_after=statistics.median(canary_after)),
        "peak_rss_mb": res["peak_rss_mb"], "failures": bad,
    }
    if not trace:
        metrics = {k: {"value": v, "unit": "share" if k == "success_rate" else "s"}
                   for k, v in adjusted.items()}
    else:
        metrics = layer_metrics(res, canary, factor, pass_raw, detail)
    return not bad, attempted, failed, metrics, detail


def layer_metrics(res, canary, factor, pass_raw, detail):
    traced = [p["pass"] for p in res["passes"] if p["pass"] >= 1 and p["traced"]]
    untraced = [p for p in pass_raw if p not in traced]
    per_pass = []
    for p in traced:
        ex = [e for e in res["executions"] if e["pass"] == p and "error" not in e]
        work = [w for w in res["work"] if w["pass"] == p]

        def w(phase, key):
            return sum(x[key] for x in work if x["phase"] == phase)

        def e(key):
            return sum(x[key] for x in ex)

        per_pass.append({
            "queries.build_s": e("build_s"), "queries.build_jobs": w("build", "jobs"),
            "queries.storage_blocks_held": e("storage_rdds_held"),
            "plans.s": e("plan_s"), "plans.analysis_s": e("analysis_s"),
            "plans.optimization_s": e("optimization_s"),
            "plans.planning_s": e("planning_s"), "plans.exchanges": e("exchanges"),
            "exec.s": e("exec_s"), "exec.jobs": w("exec", "jobs"),
            "exec.stages": w("exec", "stages"), "exec.tasks": w("exec", "tasks"),
            "exec.task_run_s": w("exec", "task_run_ms") / 1e3,
            "exec.task_cpu_s": w("exec", "task_cpu_ns") / 1e9,
            "exec.busy_cores": w("exec", "task_run_ms") / 1e3 / e("exec_s"),
            "exec.task_wait_s": w("exec", "task_wait_ms") / 1e3,
            "exec.gc_s": w("exec", "gc_ms") / 1e3,
            "exec.shuffle_write_mb": w("exec", "shuffle_write_bytes") / 1048576,
            "exec.shuffle_read_mb": w("exec", "shuffle_read_bytes") / 1048576,
            "exec.spill_mb": w("exec", "spill_bytes") / 1048576,
            "proc.heap_live_mb": next(x["heap_live_mb"] for x in res["passes"] if x["pass"] == p),
        })
    metrics = {}
    setup = {"GraftSession.build_s": res["setup"]["graft_session_build_s"],
             "Tables.register_s": res["setup"]["tables_register_s"]}
    for k, v in setup.items():
        metrics[k] = {"value": v * factor, "unit": "s"}
        metrics["raw." + k] = {"value": v, "unit": "s"}
    for k in per_pass[0]:
        value = statistics.median(x[k] for x in per_pass)
        if k in LAYER_TIMINGS:
            metrics[k] = {"value": value * factor, "unit": "s"}
            metrics["raw." + k] = {"value": value, "unit": "s"}
        else:
            metrics[k] = {"value": value, "unit": LAYER_UNITS[k]}
    overhead = (statistics.median(pass_raw[p] for p in traced) -
                statistics.median(pass_raw[p] for p in untraced))
    metrics["trace.overhead_s"] = {"value": overhead * factor, "unit": "s"}
    metrics["raw.trace.overhead_s"] = {"value": overhead, "unit": "s"}
    metrics["machine.canary_s"] = {"value": canary, "unit": "s"}
    metrics["proc.peak_rss_mb"] = {"value": res["peak_rss_mb"], "unit": "MB"}
    # counts attributed by job tag repeat exactly from pass to pass
    counts = {}
    for x in res["work"]:
        counts.setdefault((x["query"], x["phase"]), []).append(tuple(x[k] for k in REPEATING))
    mismatches = sorted(f"{q}/{ph}" for (q, ph), v in counts.items() if len(set(v)) > 1)
    metrics["trace.count_mismatches"] = {"value": len(mismatches), "unit": "count"}
    detail["count_mismatches"] = mismatches
    detail["pass_counts"] = {
        str(p): {ph: {k: sum(x[k] for x in res["work"] if x["pass"] == p and x["phase"] == ph)
                      for k in PASS_COUNTS} for ph in ("build", "plan", "exec")}
        for p in traced}
    return metrics


def refresh_digests():
    cp = build()
    old = json.load(open(DIGESTS)) if os.path.isfile(DIGESTS) else {}
    new, unstable = {}, []
    for name, wl in CONFIG["workloads"].items():
        res, _ = run_harness(cp, name, wl["queries"], 1, 1, 1, False)
        for q in wl["queries"]:
            seen = {e.get("digest", e.get("error")) for e in res["executions"] if e["query"] == q}
            if len(seen) != 1:
                unstable.append(q)
            new[q] = sorted(seen)[0]
    for q in sorted(set(old) | set(new)):
        if old.get(q) != new.get(q):
            print(f"{q}: {old.get(q)} -> {new.get(q)}")
    for q in unstable:
        print(f"{q}: digest differs between two executions in one run")
    with open(DIGESTS, "w") as fh:
        json.dump(new, fh, indent=1, sort_keys=True)
        fh.write("\n")
    sys.exit(1 if unstable else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refresh-digests", action="store_true",
                    help="record the current results of every workload query in digests.json")
    args = ap.parse_args()
    if args.refresh_digests:
        refresh_digests()
    if not args.workload:
        ap.error("--workload is required")
    cp = build()
    expected = json.load(open(DIGESTS))
    name = args.workload
    wl = CONFIG["workloads"][name]
    canary = Canary(cp)
    try:
        before = canary.read(CANARY_EDGE_SLICES)
        # a fixed pass count keeps the number of executions, and so the rank the
        # tail percentile names, the same in every run; a traced run measures one
        # more pass, alternating traced and untraced, for the tracing overhead
        res, during = run_harness(cp, name, wl["queries"], args.seed, wl["warmup_passes"],
                                  wl["passes"] + args.trace, args.trace, canary)
        after = canary.read(CANARY_EDGE_SLICES)
    finally:
        canary.close()
    correct, attempted, failed, metrics, detail = summarize(
        res, before, during, after, name, args.seed, args.trace, expected)
    tag = f"{name}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, "results", f"{tag}.json"), "w") as fh:
        json.dump({"detail": detail, "metrics": metrics, "harness": res}, fh)
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
