#!/usr/bin/env python3
"""Diff two traced runs per workload and per layer.

    python3 perfbench/layer_diff.py <before> <after>

Each side is either one traced result file or a results directory
(`.bench_build/results` after `run.py --trace 1`); a directory side
stands for the median, per metric, of its traced results of each
workload. Prints, per workload and layer, every per-layer metric before
and after with the change and its share of the before value, then the
end-to-end metrics the traced runs also recorded.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load(path):
    """{workload: {"per_layer": {...}, "e2e": {...}, "runs": n}}"""
    files = (sorted(glob.glob(os.path.join(path, "*-trace1.json")))
             if os.path.isdir(path) else [path])
    by_wl = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        by_wl.setdefault(r["facts"]["workload"], []).append(r)
    out = {}
    for wl, runs in by_wl.items():
        merged = {"runs": len(runs)}
        for part in ("per_layer", "e2e"):
            names = runs[0][part].keys()
            merged[part] = {n: {"value": stats.median([r[part][n]["value"] for r in runs]),
                                "unit": runs[0][part][n]["unit"]} for n in names}
        out[wl] = merged
    return out


def layer_of(name):
    return name.split(".", 1)[0] if "." in name else "workload"


def diff(before, after):
    lines = []
    for wl in sorted(set(before) & set(after)):
        b, a = before[wl], after[wl]
        lines.append(f"== {wl}  (runs: {b['runs']} before, {a['runs']} after)")
        for part in ("per_layer", "e2e"):
            names = [n for n in b[part] if n in a[part]]
            for layer in sorted({layer_of(n) for n in names}) if part == "per_layer" else ["e2e"]:
                lines.append(f"-- {layer}")
                for n in names:
                    if part == "per_layer" and layer_of(n) != layer:
                        continue
                    x, y = b[part][n]["value"], a[part][n]["value"]
                    rel = f"{(y - x) / x:+8.1%}" if x else "     n/a"
                    lines.append(f"   {n:<34} {x:>14.6g} -> {y:>14.6g} "
                                 f"{b[part][n]['unit']:<7} {y - x:>+14.6g} {rel}")
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    print(diff(load(sys.argv[1]), load(sys.argv[2])))
