#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the program).

    python3 perfbench/selftest.py [--workloads refresh,iterative]

Checks, each with real runs of run.py:
  1. the metric names printed with --trace 0 and --trace 1 are exactly the
     end_to_end and per_layer names of BENCHMARK.json, and every op checks
     out (ok_frac 1);
  2. a pin file with one tampered digest drives ok_frac below 1;
  3. the traced job count of one e156_incremental_cc call equals the count
     of an independent listener that sees every job of the process;
  4. without the program's sources next to it, run.py exits non-zero and
     prints no result.
Takes a few minutes; prints one line per check and exits non-zero if any
fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
SCRATCH = os.path.join(HERE, ".work", "selftest")

failures = []


def check(name, ok, detail=""):
    print(f"{'PASS' if ok else 'FAIL'} {name} {detail}".rstrip(), flush=True)
    if not ok:
        failures.append(name)


def run(*args, cwd=ROOT, script=RUN):
    p = subprocess.run([sys.executable, script, *args], cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and p.returncode == 0 else None), p


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="refresh,iterative")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layers = {m["name"] for m in bench["per_layer"]}
    os.makedirs(SCRATCH, exist_ok=True)

    for w in args.workloads.split(","):
        for trace, names in (("0", e2e), ("1", layers)):
            code, res, p = run("--workload", w, "--seed", "7", "--seconds", "1",
                               "--trace", trace)
            got = set(res["metrics"]) if res else set()
            check(f"{w} trace={trace} metric names", got == names,
                  f"missing={sorted(names - got)} extra={sorted(got - names)}")
            check(f"{w} trace={trace} outputs verified",
                  bool(res) and res["correct"] and res["failed"] == 0,
                  "" if res else p.stderr[-400:])

    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)
    q = sorted(pins["iterative"])[0]
    pins["iterative"][q]["digest"] = "0" * 16
    tampered = os.path.join(SCRATCH, "tampered-pins.json")
    with open(tampered, "w") as f:
        json.dump(pins, f)
    code, res, _ = run("--workload", "iterative", "--seed", "7", "--seconds", "1",
                       "--trace", "0", "--pins", tampered)
    frac = res["metrics"]["ok_frac"]["value"] if res else None
    check("tampered pin lowers ok_frac", frac is not None and frac < 1 and not res["correct"],
          f"ok_frac={frac}")

    code, res, p = run("--workload", "iterative", "--seed", "7", "--seconds", "1",
                       "--trace", "1", "--check-jobs", "e156_incremental_cc")
    check("traced e156 jobs equal a raw listener's",
          bool(res) and res["ok"] and res["raw_jobs"] > 0 and res["raw_jobs"] == res["traced_jobs"],
          json.dumps(res) if res else p.stderr[-400:])

    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", ".work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, res, p = run("--workload", "refresh", "--seed", "7", "--seconds", "1",
                       "--trace", "0", cwd=bare,
                       script=os.path.join(bare, "perfbench", "run.py"))
    check("bare directory fails without a result", code != 0 and not p.stdout.strip(),
          f"exit={code}")
    shutil.rmtree(SCRATCH, ignore_errors=True)

    print("selftest:", "ok" if not failures else f"{len(failures)} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
