#!/usr/bin/env python3
"""Summarise one set of benchmark runs, or compare two.

  python3 perfbench/compare.py A.jsonl            # spread of each metric
  python3 perfbench/compare.py A.jsonl B.jsonl    # B (change) against A (parent)

Input files are what series.py writes. For each workload and end-to-end
metric it prints the median and quartiles (statistics.quantiles, n=4) of
each set. With one set it also prints the spread, (q3 - q1) / median, and
whether it is below a third of the metric's bound in BENCHMARK.json
(setup_s is exempt). With two sets it also counts the seeds where B beats A (the pairs
series.py --baseline runs) and labels each metric:
  better      every B run beats every A run, or B's median is better by
              more than A's spread and the spreads fit within the bound;
  worse       B's median is worse than A's by more than the bound;
  unresolved  a spread is wider than the bound (and B does not win every run);
  same        otherwise: within the bound.
Exit code 1 if any run failed its checks, or (one set) a spread is too wide,
or (two sets) a metric is worse.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = {}
    with open(path) as fh:
        for line in fh:
            r = json.loads(line)
            if r.get("trace") == 0:
                runs.setdefault(r["workload"], []).append(r)
    return runs


def stats(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def main(argv):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    sets = [load(p) for p in argv]
    bad = False
    for w in sorted(sets[0]):
        for s, runs in zip(argv, sets):
            failed = [r["seed"] for r in runs.get(w, []) if not r.get("correct") or r["exit"]]
            if failed:
                print(f"{s}: {w} failed runs, seeds {failed}")
                bad = True
        print(f"\n{w}  (n = {', '.join(str(len(x.get(w, []))) for x in sets)})")
        for m in metrics:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            cols = []
            vals = []
            for runs in sets:
                v = [r["metrics"][name]["value"] for r in runs.get(w, [])
                     if r.get("correct") and not r["exit"]]
                vals.append(v)
                if len(v) < 2:
                    cols.append("  (fewer than 2 runs)")
                    continue
                q1, q2, q3, spread = stats(v)
                cols.append(f"  med {q2:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:6.3f}")
            line = f"  {name:14s} [{m['unit']}] bound {bound:.2f}" + "".join(cols)
            if len(sets) == 1 and len(vals[0]) >= 2:
                spread = stats(vals[0])[3]
                ok = name == "setup_s" or spread < bound / 3
                bad |= not ok
                line += "  ok" if ok else "  TOO WIDE (needs < bound/3)"
            elif len(sets) == 2 and all(len(v) >= 2 for v in vals):
                a, b = (stats(v) for v in vals)
                sign = 1 if lower else -1
                change = sign * (b[1] - a[1]) / a[1]
                all_better = (max(vals[1]) < min(vals[0])) if lower else (min(vals[1]) > max(vals[0]))
                if all_better:
                    label = "better"
                elif max(a[3], b[3]) > bound:
                    label = "unresolved"
                elif change > bound:
                    label = "worse"
                elif -change > a[3]:
                    label = "better"
                else:
                    label = "same"
                bad |= label == "worse"
                by_seed = [{r["seed"]: r["metrics"][name]["value"] for r in runs.get(w, [])
                            if r.get("correct") and not r["exit"]} for runs in sets]
                paired = [(by_seed[0][k], by_seed[1][k]) for k in by_seed[0] if k in by_seed[1]]
                wins = sum(1 for x, y in paired if (y < x if lower else y > x))
                line += f"  change {change:+.3f}  B wins {wins}/{len(paired)} pairs  {label}"
            print(line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
