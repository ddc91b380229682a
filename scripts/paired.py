#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts, alternating, with the summary a
performance claim needs.

    python3 scripts/paired.py --parent DIR --change DIR --workload corpus_x10 \\
        --pairs 10 [--seed0 1]

Pair i runs `perfbench/run.py` (the command and `run_seconds` of the
change's BENCHMARK.json, `--trace 0`) at seed `seed0 + i` in both
checkouts; even pairs run the parent first, odd pairs the change first.
It then prints, for each end-to-end metric of BENCHMARK.json, the median
and quartiles of each side, the parent's IQR, the median gap and the
number of pairs the change won; and per operation the medians over runs
of warm seconds (each run's median warm pass), cold seconds, heap MB
(each run's median) and input MB, read from each run's
`perfbench/work/results/<workload>-seed<n>-trace0.json`.

It writes nothing under either checkout's `perfbench/` except what
`run.py` itself writes in `perfbench/work/`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def run(checkout, spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{checkout} seed {seed}: run.py exited {p.returncode}")
    line = json.loads(lines[-1])
    res_path = os.path.join(checkout, "perfbench", "work", "results",
                            f"{workload}-seed{seed}-trace0.json")
    with open(res_path) as f:
        res = json.load(f)
    ops = {}
    for o in res["ops"]:
        ops[o["name"]] = {
            "warm_s": statistics.median(o["warm_s"]) if o["warm_s"] else None,
            "cold_s": o["cold_s"],
            "heap_mb": statistics.median(o["heap_mb"]) if o["heap_mb"] else None,
            "input_mb": o["input_bytes"] / 1e6,
        }
    return line, ops


def fmt(x):
    return "-" if x is None else f"{x:.3f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            line, ops = run(sides[side], spec, a.workload, seed)
            runs[side].append((line, ops))
            vals = {k: round(v["value"], 3) for k, v in line["metrics"].items()}
            print(f"[paired] pair {i + 1} seed {seed} {side}: correct={line['correct']} "
                  f"failed={line['failed']}/{line['attempted']} {vals}", file=sys.stderr, flush=True)

    print(f"workload {a.workload}, {a.pairs} pairs, seeds {a.seed0}-{a.seed0 + a.pairs - 1}")
    bad = {s: sum(1 for l, _ in runs[s] if not l["correct"] or l["failed"]) for s in runs}
    print(f"runs not correct or with failed operations: parent {bad['parent']}, change {bad['change']}")
    print("metric | parent median [q1, q3] | change median [q1, q3] | change/parent | "
          "median gap | parent IQR | change won")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [l["metrics"][name]["value"] for l, _ in runs["parent"]]
        c = [l["metrics"][name]["value"] for l, _ in runs["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        (p1, p3), (c1, c3) = quartiles(p), quartiles(c)
        won = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
        ratio = cm / pm - 1 if pm else float("nan")
        print(f"{name} | {fmt(pm)} [{fmt(p1)}, {fmt(p3)}] | {fmt(cm)} [{fmt(c1)}, {fmt(c3)}] | "
              f"{ratio:+.1%} | {fmt(abs(cm - pm))} | {fmt(p3 - p1)} | {won}/{len(p)}")
    print("operation | metric | parent median | change median")
    names = sorted({n for _, ops in runs["parent"] + runs["change"] for n in ops})
    for n in names:
        for k in ("warm_s", "cold_s", "heap_mb", "input_mb"):
            med = {}
            for s in runs:
                xs = [ops[n][k] for _, ops in runs[s] if n in ops and ops[n][k] is not None]
                med[s] = statistics.median(xs) if xs else None
            print(f"{n} | {k} | {fmt(med['parent'])} | {fmt(med['change'])}")


if __name__ == "__main__":
    main()
