#!/usr/bin/env python3
"""Compare two sets of benchmark runs, parent (A) against change (B).

    python3 perfbench/compare.py A_DIR B_DIR

Each directory holds result files written by run.py (`.bench_build/results/
*.json`) with `--trace 0`. Runs are paired by workload and seed. For every
workload and end-to-end metric it prints each side's median and quartiles,
the share of pairs B won (ties count for neither) and a verdict:

- improved: B won at least 9 of 10 pairs and the medians differ by more
  than A's own quartile spread;
- unresolved: A's or B's spread (quartile distance over median) is wider
  than the bound, and not every run of B reads better than every run of A;
- worse: B's median is worse than A's by more than the bound;
- within bound: otherwise.

Gated metrics take their bounds from BENCHMARK.json, the reported but
ungated ones from perfbench/metrics.json.
"""
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402


def load(d):
    runs = {}
    for p in sorted(Path(d).glob("*.json")):
        r = json.loads(p.read_text())
        prov = r["provenance"]
        if prov["trace"]:
            continue
        vals = {k: v["value"] for k, v in r["end_to_end"].items()}
        runs.setdefault(prov["workload"], {})[prov["seed"]] = vals
    return runs


def bounds():
    declared = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    cat = json.loads((HERE / "metrics.json").read_text())
    return {m["name"]: m for m in cat["end_to_end"] + declared["end_to_end"]}


def verdict(a, b, better, bound, bound_abs=None):
    """(verdict, share of pairs won by b) for paired value lists."""
    sign = 1 if better == "higher" else -1
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    won = wins / len(pairs)
    qa, qb = stats.quartiles(a), stats.quartiles(b)
    med_a, med_b = qa[1], qb[1]
    if bound_abs is not None:
        worse = sign * (med_a - med_b) > bound_abs
        return ("worse" if worse else "within bound"), won
    spread_a = (qa[2] - qa[0]) / abs(med_a) if med_a else 0.0
    spread_b = (qb[2] - qb[0]) / abs(med_b) if med_b else 0.0
    if won >= 0.9 and sign * (med_b - med_a) > qa[2] - qa[0]:
        return "improved", won
    all_better = min(sign * y for y in b) > max(sign * x for x in a)
    if max(spread_a, spread_b) > bound and not all_better:
        return "unresolved", won
    rel = sign * (med_a - med_b) / abs(med_a) if med_a else 0.0
    return ("worse" if rel > bound else "within bound"), won


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a_runs, b_runs = load(sys.argv[1]), load(sys.argv[2])
    bmap = bounds()
    print(f"{'workload':12} {'metric':24} {'A median [q1,q3]':>30} {'B median [q1,q3]':>30} "
          f"{'B won':>6} verdict")
    for w in sorted(set(a_runs) & set(b_runs)):
        seeds = sorted(set(a_runs[w]) & set(b_runs[w]))
        if not seeds:
            continue
        names = sorted(set.intersection(*(set(a_runs[w][s]) & set(b_runs[w][s]) for s in seeds)))
        for name in names:
            m = bmap.get(name)
            if m is None:
                continue
            a = [a_runs[w][s][name] for s in seeds]
            b = [b_runs[w][s][name] for s in seeds]
            v, won = verdict(a, b, m["better"], m.get("bound", 0.0), m.get("bound_abs"))
            qa, qb = stats.quartiles(a), stats.quartiles(b)
            fa = f"{qa[1]:.4g} [{qa[0]:.4g},{qa[2]:.4g}]"
            fb = f"{qb[1]:.4g} [{qb[0]:.4g},{qb[2]:.4g}]"
            print(f"{w:12} {name:24} {fa:>30} {fb:>30} {won:6.0%} {v}  (n={len(seeds)})")


if __name__ == "__main__":
    main()
