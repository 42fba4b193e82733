"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py <runsA> <runsB>

Each argument is a directory of run records (run.py writes one per run
under <build dir>/runs/) or a glob of record files.  For every
(workload, metric) pair it prints each set's median and quartiles, the
quartile spread as a share of the median, and whether the two medians
agree within the metric's bound in BENCHMARK.json: the medians differ by
at most the bound as a share of A's median, in either direction.  The
verdict also says which way B moved ("worse" / "better").  Per-layer
metrics and the wall-clock timings have no bound and are shown for
reading only.  A set with a single run gives its value as all three
statistics.  Exits 1 if any bounded metric disagrees.
"""
import glob
import json
import os
import statistics
import sys


def load(arg):
    files = sorted(glob.glob(os.path.join(arg, "*.json")) if os.path.isdir(arg)
                   else glob.glob(arg))
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        for name, m in {**r.get("metrics", {}), **r.get("timings", {})}.items():
            runs.setdefault((r["workload"], name), []).append(m["value"])
    return runs


def stats(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                              "BENCHMARK.json")
    with open(bench_path) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    a, b = load(sys.argv[1]), load(sys.argv[2])
    ok = True
    def cell(q1, med, q3):
        return f"{med:.4g} [{q1:.4g}, {q3:.4g}]"
    print(f"{'workload':12} {'metric':40} {'n A/B':>6}  {'A median [q1, q3]':28} "
          f"{'B median [q1, q3]':28} {'spreadA':>7} {'spreadB':>7} {'B vs A':>7}  verdict")
    for key in sorted(set(a) | set(b)):
        wl, name = key
        if key not in a or key not in b:
            print(f"{wl:12} {name:40} only in {'A' if key in a else 'B'}")
            continue
        (qa1, ma, qa3), (qb1, mb, qb3) = stats(a[key]), stats(b[key])
        spread_a = (qa3 - qa1) / ma if ma else float("nan")
        spread_b = (qb3 - qb1) / mb if mb else float("nan")
        change = (mb - ma) / ma if ma else float("nan")
        worse = change if better.get(name, "lower") == "lower" else -change
        if name in bounds:
            agree = abs(change) <= bounds[name]["bound"]
            ok &= agree
            verdict = ("agree" if agree else "DISAGREE") + \
                (", B worse" if worse > 0 else ", B better") + \
                f" (bound {bounds[name]['bound']})"
        else:
            verdict = "-"
        print(f"{wl:12} {name:40} {len(a[key]):>2}/{len(b[key]):<3}  "
              f"{cell(qa1, ma, qa3):28} {cell(qb1, mb, qb3):28} "
              f"{spread_a:>7.3f} {spread_b:>7.3f} {change:>+7.3f}  {verdict}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
