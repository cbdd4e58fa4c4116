#!/usr/bin/env python3
"""Compare two sets of benchmark runs (a parent and a change).

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds run records as perfbench/run.py writes them to
.bench_build/runs/ (one JSON file per run, with "env" and "result").
For every workload and end-to-end metric it prints each side's median
and quartiles, the ratio change/base and a verdict:

  better      the change wins at least 9 in 10 run pairs (ties count for
              neither) and the medians differ by more than the base's own
              quartile spread
  worse       the change's median is worse than the base's by more than
              the metric's bound in BENCHMARK.json
  no worse    within the bound, and both sides' spreads within it
  unresolved  a side's spread is wider than the bound, unless every
              change run reads better than every base run

It also compares the share of failed operations, counts the runs that
labelled themselves contended, and compares the per-layer self time
(self.*_ms) of traced runs.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            try:
                rec = json.load(fh)
            except ValueError:
                continue
        if isinstance(rec, dict) and "env" in rec and "result" in rec:
            runs.append(rec)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else float("inf")


def verdict(base, change, better, bound):
    """Verdict for one metric; `better` is "lower" or "higher"."""
    if not base or not change:
        return "unresolved"
    sign = 1 if better == "higher" else -1
    mb, mc = statistics.median(base), statistics.median(change)
    worse_by = sign * (mb - mc) / mb if mb else 0.0
    all_better = all(sign * (c - b) > 0 for c in change for b in base)
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    q1, _, q3 = quartiles(base)
    if pairs and wins >= 0.9 * len(pairs) and abs(mc - mb) > (q3 - q1):
        return "better"
    if worse_by > bound:
        return "worse"
    if max(spread(base), spread(change)) > bound and not all_better:
        return "unresolved"
    return "no worse"


def by_workload(runs, trace):
    out = {}
    for r in runs:
        if bool(r["env"].get("trace")) == trace:
            out.setdefault(r["env"]["workload"], []).append(r)
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    base, change = load_runs(sys.argv[1]), load_runs(sys.argv[2])
    bw, cw = by_workload(base, False), by_workload(change, False)
    print(f"{'workload':<16} {'metric':<18} {'base q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'ratio':>7}  verdict")
    for w in sorted(set(bw) | set(cw)):
        for m in bench["end_to_end"]:
            def vals(rs):
                return [r["result"]["metrics"][m["name"]]["value"] for r in rs
                        if m["name"] in r["result"]["metrics"]]
            b, c = vals(bw.get(w, [])), vals(cw.get(w, []))
            qb, qc = quartiles(b), quartiles(c)
            ratio = qc[1] / qb[1] if b and c and qb[1] else float("nan")
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:<16} {m['name']:<18} {fmt(qb):>30} {fmt(qc):>30} {ratio:7.3f}  "
                  f"{verdict(b, c, m['better'], m['bound'])}")
    print()
    # a run that labelled itself contended (steal, calibration drift,
    # load) makes every verdict on its side suspect
    print(f"{'workload':<16} {'fail share base':>16} {'fail share change':>18} {'contended runs':>15}")
    for w in sorted(set(bw) | set(cw)):
        def share(rs):
            att = sum(r["result"]["attempted"] for r in rs)
            return sum(r["result"]["failed"] for r in rs) / att if att else float("nan")
        def contended(rs):
            return f"{sum(1 for r in rs if r['env'].get('contended'))}/{len(rs)}"
        b, c = bw.get(w, []), cw.get(w, [])
        print(f"{w:<16} {share(b):16.4f} {share(c):18.4f} {contended(b) + ' | ' + contended(c):>15}")
    bt, ct = by_workload(base, True), by_workload(change, True)
    if bt or ct:
        print()
        print(f"{'workload':<16} {'self time, ms per op':<22} {'base':>10} {'change':>10} {'delta':>10}")
        for w in sorted(set(bt) | set(ct)):
            names = sorted({k for r in bt.get(w, []) + ct.get(w, [])
                            for k in r["result"]["metrics"] if k.startswith("self.")})
            for k in names:
                def med(rs):
                    xs = [r["result"]["metrics"][k]["value"] for r in rs if k in r["result"]["metrics"]]
                    return statistics.median(xs) if xs else float("nan")
                mb, mc = med(bt.get(w, [])), med(ct.get(w, []))
                print(f"{w:<16} {k:<22} {mb:10.2f} {mc:10.2f} {mc - mb:10.2f}")


if __name__ == "__main__":
    main()
