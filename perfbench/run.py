#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 20 --trace 0

Builds the runner and the program from the checkout on first use (sbt,
offline), then starts one JVM that runs the workload (see README.md in this
directory). Every op's output is checked: a query's row count and digest
must equal the values pinned in pins.json; a refresh cycle checks itself.
The last line of standard output is the result; the line before it states
the tail percentile, the sample counts and the machine state at the start
and end of the run.

--pins FILE checks against another pin file. When a query's output changes
on purpose, its pin is edited by hand from the digest in
.work/iterative-report.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")
PINS = os.path.join(HERE, "pins.json")
WORKLOADS = ("refresh", "iterative")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Two JIT compiler threads, not the JVM's default three on four processors:
# compilation still runs in the timed window, and a third compiler thread
# beside Spark's task threads and the driver thread oversubscribes the
# processors (see README.md, Steadiness).
JIT_THREADS = 2

# What the JVM needs when Spark is started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Inputs of the build: a change to any of them rebuilds.
BUILD_INPUTS = [
    (ROOT, ["build.sbt", "project/build.properties", "src/main"]),
    (HERE, ["build.sbt", "project/build.properties", "src"]),
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_stamp():
    h = hashlib.sha256()
    for base, names in BUILD_INPUTS:
        for name in names:
            path = os.path.join(base, name)
            if not os.path.exists(path):
                fail(f"{os.path.relpath(path, ROOT)} not found: run from a full checkout")
            files = [path] if os.path.isfile(path) else sorted(
                os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
            for f in files:
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile with sbt if the sources changed; return the runtime classpath."""
    stamp = build_stamp()
    cp_file = os.path.join(TARGET, "perfbench-classpath.txt")
    stamp_file = os.path.join(TARGET, "perfbench-stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx4g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "export Runtime/fullClasspath"], HERE, env,
                    BUILD_TIMEOUT_S, os.path.join(WORK, "build.log"))
    lines = [l for l in out.splitlines() if "scala-2.13/classes" in l]
    if not lines:
        fail("build failed, see perfbench/.work/build.log")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_group(cmd, cwd, env, timeout, log_path):
    """Run cmd in its own process group, stderr to log_path; kill the whole
    group on timeout, and wait until it has ended."""
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=log, stdin=subprocess.DEVNULL,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} timed out after {timeout} s, see {log_path}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{cmd[0]} exited with {p.returncode}")
    return out


def machine_state():
    """Load, CPU steal and processor count, plus the time of a fixed CPU
    probe (best of three SHA-256 passes over 128 MB): a host that has slowed
    without showing steal, as under memory-bandwidth contention, shows in
    the probe."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    buf = bytes(128 << 20)
    probe = []
    for _ in range(3):
        t0 = time.perf_counter()
        hashlib.sha256(buf).digest()
        probe.append(time.perf_counter() - t0)
    return {"loadavg_1m": load1, "cpu_ticks": sum(cpu[:8]),
            "steal_ticks": cpu[7] if len(cpu) > 7 else 0,
            "nproc": len(os.sched_getaffinity(0)), "probe_s": min(probe)}


def tail(xs):
    """The highest percentile with at least ten samples beyond it, by
    nearest rank: (value, percentile). When that would not lie above the
    median (fewer than 20 samples), it is the maximum, at 100."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def verified(op, pins):
    if not op["ok"]:
        return False
    if "digest" not in op:
        return True
    pin = pins.get(op["kind"])
    return pin is not None and pin == {"rows": op["rows"], "digest": op["digest"]}


def end_to_end(report, pins):
    """Metrics of the untraced window. Warm-up ops count as attempted and
    are checked too."""
    ops = report["ops"]
    times = [o["s"] for o in ops]
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["s"])
    checked = report["warm"] + ops
    t, p = tail(times)
    metrics = {
        "setup_s": (report["window"]["setup_s"], "s"),
        "op_p50_s": (statistics.median(times), "s"),
        "op_tail_s": (t, "s"),
        "pass_s": (statistics.median(x["s"] for x in report["passes"]), "s"),
        "op_geomean_s": (geomean([statistics.median(v) for v in kinds.values()]), "s"),
        "ok_frac": (sum(verified(o, pins) for o in checked) / len(checked), "ratio"),
        "peak_rss_mb": (report["native_peak_mb"] + report["window"]["live_heap_mb"], "MB"),
    }
    return metrics, {"tail_percentile": p, "ops": len(ops), "passes": len(report["passes"])}


PER_OP_LAYERS = {
    "pipeline": "pipeline.runBatch", "models": "models.dbtRun",
    "quality": "quality.runAll",
}


def per_layer(report, ops):
    """Per-layer figures of the traced ops: for refresh, medians over
    cycles; for iterative, sums over the queries of each query's median,
    i.e. per pass."""
    recs = report["layers"]
    traced = [o for o in ops if o["traced"]]
    kind_of = {o["op"]: o["kind"] for o in traced}
    by = {}  # (layer, kind) -> list of per-op records, summed over spans
    per_op = {}
    for r in recs:
        key = (r["layer"], r["op"])
        acc = per_op.setdefault(key, {k: 0 for k in r if k not in ("op", "layer")})
        for k in acc:
            acc[k] += r[k]
    for (layer, op), acc in per_op.items():
        by.setdefault((layer, kind_of[op]), []).append(acc)
    for op in {op for _, op in per_op}:
        tot = {}
        for (layer, o), acc in per_op.items():
            if o == op:
                for k, v in acc.items():
                    tot[k] = tot.get(k, 0) + v
        by.setdefault(("spark", kind_of[op]), []).append(tot)

    per_pass = report["workload"] == "iterative"

    def fig(layer, field):
        """Median of a field per op of one kind, summed over kinds for
        iterative; median over all ops for refresh."""
        groups = {k: [a[field] for a in v] for (l, k), v in by.items() if l == layer}
        if not groups:
            return 0.0
        if per_pass:
            return float(sum(statistics.median(v) for v in groups.values()))
        return float(statistics.median([x for v in groups.values() for x in v]))

    m = {}
    for short, layer in PER_OP_LAYERS.items():
        m[f"{layer}_s"] = (fig(layer, "s"), "s")
        m[f"{short}.jobs"] = (fig(layer, "jobs"), "count")
    m["pipeline.tasks"] = (fig("pipeline.runBatch", "tasks"), "count")
    for short in ("models", "quality"):
        layer = PER_OP_LAYERS[short]
        m[f"{short}.task_cpu_s"] = (fig(layer, "cpu_s"), "s")
        m[f"{short}.rows_read"] = (fig(layer, "rows_read"), "count")
    for ph in ("build", "plan", "exec"):
        m[f"queries.{ph}_s"] = (fig(f"queries.{ph}", "s"), "s")
    m["queries.build_jobs"] = (fig("queries.build", "jobs"), "count")
    m["queries.exec_jobs"] = (fig("queries.exec", "jobs"), "count")
    jobs = fig("spark", "jobs")
    m["spark.jobs"] = (jobs, "count")
    m["spark.stages"] = (fig("spark", "stages"), "count")
    m["spark.tasks"] = (fig("spark", "tasks"), "count")
    m["spark.ms_per_job"] = (1000 * fig("spark", "s") / jobs if jobs else 0.0, "ms")
    m["spark.task_run_s"] = (fig("spark", "run_ms") / 1000, "s")
    m["spark.task_cpu_s"] = (fig("spark", "cpu_s"), "s")
    m["spark.shuffle_write_mb"] = (fig("spark", "shuffle_write") / 2**20, "MB")
    m["spark.spill_mb"] = (fig("spark", "spill") / 2**20, "MB")
    for q in ("e156_incremental_cc", "e147_nn_descent",
              "e173_knn_persist_fold", "e163_lpa_communities"):
        vals = [a["jobs"] for (l, k), v in by.items() if l == "spark" and k == q for a in v]
        m[f"{q}.jobs"] = (float(statistics.median(vals)) if vals else 0.0, "count")
    w = report["window"]
    m["jvm.gc_ms"] = (float(w["gc_ms"]), "ms")
    m["jvm.jit_ms"] = (float(w["jit_ms"]), "ms")
    m["jvm.cpu_s"] = (w["cpu_s"], "s")
    m["trace.overhead_s"] = (overhead(ops, per_pass), "s")
    return m


def overhead(ops, per_kind):
    """Median over traced ops of the traced time less a paired untraced
    time. Each query runs both ways, so it is paired with its own untraced
    calls (per_kind). Each refresh cycle number runs once, and traced and
    untraced cycles alternate, so a traced cycle is paired with the mean of
    its two untraced neighbours, which cancels a linear trend across
    cycles (history growth, JIT warming)."""
    diffs = []
    for i, o in enumerate(ops):
        if not o["traced"]:
            continue
        if per_kind:
            plain = [p["s"] for p in ops if p["kind"] == o["kind"] and not p["traced"]]
        else:
            plain = [ops[j]["s"] for j in (i - 1, i + 1)
                     if 0 <= j < len(ops) and not ops[j]["traced"]]
            plain = plain if len(plain) == 2 else []
        if plain:
            diffs.append(o["s"] - statistics.mean(plain))
    return statistics.median(diffs) if diffs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pins", default=PINS)
    ap.add_argument("--check-jobs")
    args = ap.parse_args()
    if not os.path.isdir(DATA):
        fail("benchmark data not found")

    cp = classpath()
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    state0 = machine_state()
    try:
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
               f"-XX:CICompilerCount={JIT_THREADS}",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
        cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--data", DATA, "--work", work]
        if args.check_jobs:
            cmd += ["--check-jobs", args.check_jobs]
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        out = run_group(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S,
                        os.path.join(WORK, f"{args.workload}-jvm.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    state1 = machine_state()
    report = json.loads(out.strip().splitlines()[-1])
    with open(os.path.join(WORK, f"{args.workload}-report.json"), "w") as f:
        json.dump(report, f)
    if args.check_jobs:
        print(json.dumps(report))
        return

    pins = {}
    if os.path.exists(args.pins):
        with open(args.pins) as f:
            pins = json.load(f).get(args.workload, {})

    e2e, info = end_to_end(report, pins)
    checked = report["warm"] + report["ops"]
    failed = sum(not verified(o, pins) for o in checked)
    dt = state1["cpu_ticks"] - state0["cpu_ticks"]
    info.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": state0["nproc"],
        "loadavg_1m": [state0["loadavg_1m"], state1["loadavg_1m"]],
        "cpu_probe_s": [state0["probe_s"], state1["probe_s"]],
        "steal_frac": (state1["steal_ticks"] - state0["steal_ticks"]) / dt if dt else 0.0,
        "warm_ops": len(report["warm"]),
        "window": report["window"], "process_s": report["process_s"],
    })
    metrics = per_layer(report, report["ops"]) if args.trace else e2e
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(checked), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
