#!/usr/bin/env python3
"""Layer report from traced runs, and a run-vs-run layer diff.

    python3 perfbench/layers.py RESULTS_DIR            # layer budget per workload
    python3 perfbench/layers.py A_DIR B_DIR            # layer diff, B minus A

Reads the `--trace 1` result files run.py writes. The budget is each
layer's self time per traced op (a span's time minus the time its child
spans, Spark jobs and planning phases cover), followed by the per-layer
metrics. With several traced runs of a workload it reports their medians.
"""
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402


def load(d):
    """workload -> {"budget": {layer: [ms/op...]}, "metrics": {name: [values...]}, units}"""
    out = {}
    for p in sorted(Path(d).glob("*.json")):
        r = json.loads(p.read_text())
        if not r["provenance"]["trace"]:
            continue
        w = out.setdefault(r["provenance"]["workload"], {"budget": {}, "metrics": {}, "units": {}})
        for layer, v in r["layer_budget_ms_per_op"].items():
            w["budget"].setdefault(layer, []).append(v)
        for name, m in r["per_layer"].items():
            # None: the workload does not run that layer
            vals = w["metrics"].setdefault(name, [])
            if m["value"] is not None:
                vals.append(m["value"])
            w["units"][name] = m["unit"]
    return out


def med(xs):
    return statistics.median(xs) if xs else 0.0


def report(runs):
    for w, r in sorted(runs.items()):
        total = sum(med(v) for v in r["budget"].values())
        print(f"== {w}: layer self time per traced op ({len(next(iter(r['budget'].values()), []))} runs)")
        for layer in stats.LAYERS:
            v = med(r["budget"].get(layer, []))
            share = v / total if total else 0.0
            print(f"  {layer:10} {v:12.2f} ms/op  {share:6.1%}")
        print(f"== {w}: per-layer metrics")
        for name, vals in r["metrics"].items():
            if vals:
                print(f"  {name:44} {med(vals):14.6g} {r['units'][name]}")


def diff(a, b):
    for w in sorted(set(a) & set(b)):
        print(f"== {w}: layer self time per traced op, B - A")
        for layer in stats.LAYERS:
            va, vb = med(a[w]["budget"].get(layer, [])), med(b[w]["budget"].get(layer, []))
            rel = f"{(vb - va) / va:+7.1%}" if va else "      -"
            print(f"  {layer:10} {va:12.2f} -> {vb:12.2f} ms/op  {vb - va:+10.2f}  {rel}")
        print(f"== {w}: per-layer metrics, B - A")
        for name in a[w]["metrics"]:
            if not a[w]["metrics"][name] or not b[w]["metrics"].get(name):
                continue
            va, vb = med(a[w]["metrics"][name]), med(b[w]["metrics"][name])
            rel = f"{(vb - va) / va:+7.1%}" if va else "      -"
            print(f"  {name:44} {va:14.6g} -> {vb:14.6g} {a[w]['units'][name]:6} {rel}")


def main():
    if len(sys.argv) == 2:
        report(load(sys.argv[1]))
    elif len(sys.argv) == 3:
        diff(load(sys.argv[1]), load(sys.argv[2]))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
