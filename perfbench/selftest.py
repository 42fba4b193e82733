"""Count-determinism self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

Runs every workload (or the named ones) twice untraced and twice traced
on the same seed, on the inputs the benchmark itself uses, and
asserts that
  - every metric named in BENCHMARK.json is emitted, with its unit;
  - spark.jobs, spark.stages and streaming.<m>.jobs_per_batch repeat
    exactly between the two traced runs;
  - no op failed or missed its oracle (failed_frac = 0) and each run
    exited 0.
Exact counts are what lets a later change back a claim with a count.
Takes about ten minutes; run records go to <build dir>/selftest/.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEED = 7
BUILD_DIR = ".bench_build"


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--build-dir", BUILD_DIR,
           "--record-dir", os.path.join(BUILD_DIR, "selftest")]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    return p.returncode, json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    expect = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    workloads = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    problems = []
    for wl in workloads:
        traced = []
        for trace in (0, 0, 1, 1):
            rc, out = run(wl, trace)
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            tag = f"{wl} trace={trace}"
            if rc != 0 or not out["correct"] or out["failed"] != 0:
                problems.append(f"{tag}: exit {rc}, correct={out['correct']}, "
                                f"failed {out['failed']}/{out['attempted']}")
            if got != expect[trace]:
                missing = sorted(set(expect[trace]) - set(got))
                extra = sorted(set(got) - set(expect[trace]))
                units = sorted(k for k in set(got) & set(expect[trace])
                               if got[k] != expect[trace][k])
                problems.append(f"{tag}: missing {missing} extra {extra} "
                                f"wrong units {units}")
            if trace:
                traced.append(out["metrics"])
            print(f"{tag}: exit {rc}", flush=True)
        counts = ["spark.jobs", "spark.stages"] + sorted(
            k for k in expect[1] if k.endswith(".jobs_per_batch"))
        for k in counts:
            a, b = (t.get(k, {}).get("value") for t in traced)
            if a != b:
                problems.append(f"{wl}: {k} differs between runs: {a} vs {b}")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
