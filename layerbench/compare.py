#!/usr/bin/env python3
"""Compare benchmark artifacts, or tabulate them.

    python3 layerbench/compare.py BASE NEW       # before/after a change
    python3 layerbench/compare.py --table ARTS   # per-metric medians

BASE, NEW and ARTS are artifact files or directories of them (runs write
their artifacts to ``layerbench/work/artifacts/``).  For a comparison,
artifacts pair up by (workload, seed, trace).  A pair is refused, with
exit code 2, when the stamps differ in anything but the code under test,
or when its two runs started more than ``MAX_PAIR_GAP_S`` apart: the
speed of a shared box drifts by tens of percent over an hour, so only
runs of the base and the change made alternately, seed by seed, compare.
The report gives, per workload and metric, each side's median and
quartile spread, the change of the medians and how many pairs the new
side won.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from layerbench.stamp import stamp_differences  # noqa: E402

MAX_PAIR_GAP_S = 300


def load(paths) -> list[dict]:
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    out = []
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        a["_file"] = f
        out.append(a)
    return out


def _key(a: dict) -> tuple:
    return a["stamp"]["workload"], a["stamp"]["seed"], int(a["trace"])


def _spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def _better() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}


def compare(base: list[dict], new: list[dict]) -> int:
    by_key = {}
    for side, arts in (("base", base), ("new", new)):
        for a in arts:
            slot = by_key.setdefault(_key(a), {})
            if side in slot:
                print(f"two {side} artifacts for {_key(a)}: {slot[side]['_file']}, {a['_file']}")
                return 2
            slot[side] = a
    pairs = [(k, v["base"], v["new"]) for k, v in sorted(by_key.items())
             if "base" in v and "new" in v]
    if not pairs:
        print("no (workload, seed, trace) present on both sides")
        return 2
    refused = [(k, stamp_differences(b["stamp"], n["stamp"])) for k, b, n in pairs]
    refused = [(k, f"stamps differ in {', '.join(d)}") for k, d in refused if d]
    for k, b, n in pairs:
        gap = abs(n.get("started_at", 0) - b.get("started_at", float("inf")))
        if gap > MAX_PAIR_GAP_S:
            refused.append((k, f"runs started {gap:.0f} s apart (> {MAX_PAIR_GAP_S} s)"))
    for k, why in refused:
        print(f"refused: {k} {why}")
    if refused:
        return 2
    better = _better()
    groups: dict = {}
    for (wl, _, trace), b, n in pairs:
        groups.setdefault((wl, trace), []).append((b, n))
    for (wl, trace), ps in groups.items():
        print(f"\n{wl} (trace {trace}, {len(ps)} pairs)")
        print(f"  {'metric':44} {'base':>12} {'new':>12} {'change':>8} {'wins':>6} {'spread':>7}")
        for name, meta in ps[0][0]["result"]["metrics"].items():
            bv = [b["result"]["metrics"][name]["value"] for b, _ in ps]
            nv = [n["result"]["metrics"][name]["value"] for _, n in ps]
            bm, nm = statistics.median(bv), statistics.median(nv)
            change = (nm - bm) / bm if bm else 0.0
            sign = {"higher": 1, "lower": -1}.get(better.get(name), 0)
            wins = sum((y - x) * sign > 0 for x, y in zip(bv, nv)) if sign else "-"
            print(f"  {name:44} {bm:12.4g} {nm:12.4g} {change:+8.1%} {wins!s:>6} "
                  f"{_spread(bv):7.1%}  {meta['unit']}")
    return 0


def table(arts: list[dict]) -> int:
    groups: dict = {}
    for a in arts:
        groups.setdefault((a["stamp"]["workload"], int(a["trace"])), []).append(a)
    for (wl, trace), group in sorted(groups.items()):
        print(f"\n### {wl} — {'per-layer' if trace else 'end-to-end'}, "
              f"median of {len(group)} runs (seeds {sorted(a['stamp']['seed'] for a in group)})\n")
        print("| metric | unit | median | IQR / median |")
        print("|---|---|---:|---:|")
        for name, meta in group[0]["result"]["metrics"].items():
            vals = [a["result"]["metrics"][name]["value"] for a in group]
            print(f"| `{name}` | {meta['unit']} | {statistics.median(vals):.4g} "
                  f"| {_spread(vals):.1%} |")
        splits = [(a["stamp"]["seed"], a["extract_stage_split"]) for a in group
                  if a.get("extract_stage_split")]
        if splits:
            names = list(splits[0][1]["shares"])
            print("\nExtraction stage executor run time, split (task-s, share):\n")
            print("| seed | run task-s | " + " | ".join(names) + " |")
            print("|---|---:|" + "---:|" * len(names))
            for seed, sp in splits:
                cells = [f"{sp['task_seconds'][n]:.2f} ({sp['shares'][n]:.0%})" for n in names]
                print(f"| {seed} | {sp['extract_stage_run_s']:.2f} | " + " | ".join(cells) + " |")
        slow = [(a["stamp"]["seed"], a["slowest_docs"]) for a in group if a.get("slowest_docs")]
        for seed, docs in slow:
            print(f"\nFive slowest documents, seed {seed} (doc_id, bytes, kernel s): "
                  + "; ".join(f"{d['doc_id']}, {d['bytes']}, {d['kernel_s']:.3f}" for d in docs))
    return 0


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["--table"] and len(argv) > 1:
        return table(load(argv[1:]))
    if len(argv) == 2:
        return compare(load([argv[0]]), load([argv[1]]))
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main())
