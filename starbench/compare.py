#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric and workload by workload.

    python3 starbench/compare.py BASE CHANGE

BASE and CHANGE are directories (or single files) holding run outputs:
either the command's standard output saved to a file (an info line and the
result line) or the run records run.py writes under <build>/results. Runs
pair up by (workload, seed) when both sides have the seed, else in file
order.

For every (metric, workload) pair the tool prints each side's median and
quartiles, the fraction of pairs the change wins (ties count for neither),
and a verdict against the metric's bound in BENCHMARK.json:

  improved    the change wins at least 9 in 10 of at least ten pairs, and
              the medians differ by more than the base's quartile spread
  worse       the change's median is worse than the base's by more than the
              bound
  unresolved  the run-to-run spread (quartile distance over median, either
              side) is wider than the bound and not every change run reads
              better than every base run
  unchanged   otherwise
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(path):
    """[(workload, seed, trace, metrics dict)] from a directory or a file."""
    files = sorted(glob.glob(os.path.join(path, "*"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        if not os.path.isfile(f):
            continue
        info, result = None, None
        with open(f) as fh:
            text = fh.read()
        try:
            docs = [json.loads(text)]
        except ValueError:
            docs = []
            for line in text.splitlines():
                try:
                    docs.append(json.loads(line))
                except ValueError:
                    pass
        for d in docs:
            if not isinstance(d, dict):
                continue
            if "info" in d:
                info = d["info"]
            if "result" in d:
                result = d["result"]
            elif "metrics" in d and "correct" in d:
                result = d
        if info and result:
            runs.append((info["workload"], info["seed"], info.get("trace", 0),
                         {k: v["value"] for k, v in result["metrics"].items()}))
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, change, better, bound, pairs):
    """The verdict for one (metric, workload): see the module docstring.
    `pairs` is [(base value, change value)]."""
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    sign = 1.0 if better == "lower" else -1.0

    def wins(b, c):
        return sign * (b - c) > 0

    won = sum(1 for b, c in pairs if wins(b, c))
    frac = won / len(pairs) if pairs else 0.0
    worse_by = sign * (cmed - bmed) / abs(bmed) if bmed else 0.0
    spread = max((bq3 - bq1) / abs(bmed) if bmed else 0.0,
                 (cq3 - cq1) / abs(cmed) if cmed else 0.0)
    all_better = all(wins(b, c) for b in base for c in change)
    if len(pairs) >= 10 and frac >= 0.9 and abs(cmed - bmed) > (bq3 - bq1):
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return {"base": (bq1, bmed, bq3), "change": (cq1, cmed, cq3), "won": frac,
            "worse_by": worse_by, "spread": spread, "verdict": v}


def compare(spec, base_runs, change_runs):
    """[(metric, workload, n_pairs, verdict dict)] for every metric of the
    spec that both sides report."""
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    rows = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            b = [r for r in base_runs if r[0] == w and r[2] == trace]
            c = [r for r in change_runs if r[0] == w and r[2] == trace]
            if not b or not c:
                continue
            c_by_seed = {r[1]: r for r in c}
            if all(r[1] in c_by_seed for r in b):
                paired = [(r, c_by_seed[r[1]]) for r in b]
            else:
                paired = list(zip(b, c))
            for name in sorted(set(b[0][3]) & set(c[0][3])):
                m = metrics.get(name)
                if m is None:
                    continue
                bv = [r[3][name] for r in b]
                cv = [r[3][name] for r in c]
                pairs = [(x[3][name], y[3][name]) for x, y in paired]
                rows.append((name, w, len(pairs),
                             verdict(bv, cv, m["better"], m.get("bound", 0.0), pairs)))
    return rows


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows = compare(spec, load_runs(argv[1]), load_runs(argv[2]))
    print(f"{'metric':<28} {'workload':<15} {'base median [q1, q3]':<32} "
          f"{'change median [q1, q3]':<32} {'worse by':>9} {'won':>5} {'pairs':>5}  verdict")
    for name, w, n, v in rows:
        b, c = v["base"], v["change"]
        print(f"{name:<28} {w:<15} {b[1]:>10.4g} [{b[0]:.4g}, {b[2]:.4g}]".ljust(77) +
              f" {c[1]:>10.4g} [{c[0]:.4g}, {c[2]:.4g}]".ljust(33) +
              f" {v['worse_by']:>+8.1%} {v['won']:>5.0%} {n:>5}  {v['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
