"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <iter_rounds|bulk_scale|stream_fold>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the engine and the benchmark
(perfbench/build.py), prepares the seeded input (perfbench/datagen.py),
runs the workload in one JVM on a local[4] Spark session (closed loop,
one call in flight), checks every output against its DuckDB oracle
(perfbench/oracle.py), stores a full run record under
<build dir>/runs/ and prints, as its last stdout line,

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json; the line before it carries the
wall-clock timings and the run's circumstances.  Exits non-zero when an
op throws, an output differs from its oracle, or storage is not released
between passes.  See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402

# input per workload: (scale factor of the generated base, replication)
INPUTS = {
    "iter_rounds": (0.001, 1),
    "stream_fold": (0.001, 1),
    "bulk_scale": (0.001, 10),
}
# runnable, but left out of BENCHMARK.json (evidence in README.md)
DROPPED = {
    "bulk_scale": "not in BENCHMARK.json: a data-bound size does not fit the "
                  "run budget, and at the size that fits it is driver-bound",
}
# Bounded end-to-end metrics (BENCHMARK.json). The wall-clock ones
# (wall_s, batch_p50_ms, batch_tail_ms) go to the summary line: on a
# shared VM their run-to-run spread exceeded any usable bound (README).
END_TO_END = ("cpu_s", "app_cpu_s", "storage_mb", "setup_s")
DRIVER_MEM = "3g"
JVM_TIMEOUT_S = 170
UNITS = {"s": "s", "ms": "ms", "mb": "MB"}


def unit_of(name):
    """Unit of a metric, from its name's suffix (counts have none)."""
    suffix = name.rsplit("_", 1)[-1]
    if name.endswith("growth"):
        return "ratio"
    return UNITS.get(suffix, "count")


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--build-dir", default=".bench_build")
    ap.add_argument("--record-dir", help="where run records go "
                    "(default <build dir>/runs)")
    a = ap.parse_args()
    t_start = time.time()
    bdir = os.path.abspath(a.build_dir)
    try:
        classpath, source_stamp = build.build(bdir)
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    sf, factor = INPUTS[a.workload]
    data_dir, prepare_s, cached = datagen.prepare(
        os.path.join(bdir, "data"), sf, factor, a.seed)
    with open(os.path.join(data_dir, "_READY")) as f:
        rows = json.load(f)

    out = os.path.join(bdir, "out", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{DRIVER_MEM}", f"-Djava.io.tmpdir={tmp}"] + \
        build.JVM_FLAGS + ["-cp", classpath, "graft.perfbench.Main",
                           a.workload, data_dir, str(a.seed), str(a.seconds),
                           str(a.trace), out]
    t_jvm = time.time()
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, JVM_TIMEOUT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: JVM timed out (log: {out}/jvm.log)")
    jvm_s = time.time() - t_jvm
    try:
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
    except (OSError, ValueError):
        sys.exit(f"perfbench: JVM exited {rc} without a result (log: {out}/jvm.log)")

    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)
    t0 = time.time()
    verdict = oracle.check(data_dir, os.path.join(out, "verify"), sqls, sorted(sqls))
    oracle_s = time.time() - t0
    mismatches = {k: v for k, v in verdict.items() if v}
    failed = len(res["failures"]) + len(mismatches)
    correct = rc == 0 and failed == 0
    valid = not res["invalid"]

    e2e = res["end_to_end"]
    metrics = {k: e2e[k] for k in END_TO_END if k in e2e} if a.trace == 0 \
        else res["per_layer"]
    timings = {k: v for k, v in e2e.items() if k not in END_TO_END}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "commit": commit(), "source_stamp": source_stamp,
        "nproc": os.cpu_count(), "driver_mem": DRIVER_MEM,
        "input": {"sf": sf, "factor": factor, "rows": rows,
                  "prepare_s": prepare_s, "cached": cached},
        "oracle_s": oracle_s, "oracle": verdict,
        "correct": correct, "valid": valid, "invalid": res["invalid"],
        "dropped": DROPPED.get(a.workload),
        "setup_parts_s": res["setup_parts_s"],
        "input_prepare_s": res["input_prepare_s"],
        "failures": res["failures"], "attempted": res["attempted"],
        "failed": failed, "failed_frac": failed / max(1, res["attempted"]),
        "setup_s": res["setup_s"], "passes": res["passes"],
        "batch_samples": res["batch_samples"],
        "batch_tail_percentile": res["batch_tail_percentile"],
        "metrics": {k: {"value": metrics[k], "unit": unit_of(k)}
                    for k in sorted(metrics)},
        "timings": {k: {"value": timings[k], "unit": unit_of(k)}
                    for k in sorted(timings)},
        "jvm_s": jvm_s, "elapsed_s": time.time() - t_start,
    }
    rdir = a.record_dir or os.path.join(bdir, "runs")
    os.makedirs(rdir, exist_ok=True)
    rpath = os.path.join(rdir, f"{a.workload}-s{a.seed}-t{a.trace}-"
                               f"{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(rpath, "w") as f:
        json.dump(record, f, indent=1)
    for k, why in sorted(mismatches.items()):
        print(f"perfbench: oracle mismatch {k}: {why}", file=sys.stderr)
    for n, why in res["failures"]:
        print(f"perfbench: {n} failed: {why}", file=sys.stderr)
    for why in res["invalid"]:
        print(f"perfbench: invalid run: {why}", file=sys.stderr)
    print(json.dumps({
        "record": rpath, "commit": record["commit"], "nproc": record["nproc"],
        "driver_mem": DRIVER_MEM, "seed": a.seed, "rows": rows,
        "prepare_s": round(prepare_s, 3), "failed_frac": record["failed_frac"],
        "valid": valid, "dropped": DROPPED.get(a.workload),
        "timings": record["timings"],
        "batch_tail_percentile": res["batch_tail_percentile"],
        "batch_samples": res["batch_samples"],
        "passes": [{k: p[k] for k in ("wall_s", "app_cpu_s", "jit_cpu_s",
                                      "gc_cpu_s", "loadavg_start",
                                      "loadavg_end", "gc_ms_start",
                                      "gc_ms_end")}
                   for p in res["passes"]]}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": record["metrics"]}))
    sys.exit(0 if correct and valid else 1)


if __name__ == "__main__":
    main()
