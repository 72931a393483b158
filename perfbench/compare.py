#!/usr/bin/env python3
"""Compare benchmark runs of a parent commit and a change.

  python3 perfbench/compare.py run --parent P --change C --out DIR
          [--pairs 10] [--seconds S] [--trace 0|1] [--workloads w,...]
      Alternates runs of the two checkouts P and C (which side goes
      first flips every pair, seeds 1..pairs are shared by both sides)
      and appends each run's result line to DIR/{parent,change}/<workload>.jsonl.

  python3 perfbench/compare.py report DIR
      For each workload x metric: both medians and quartiles, the share
      of pairs the change won, and a verdict (improved / no worse /
      worse / unresolved) from the bounds in BENCHMARK.json.

  python3 perfbench/compare.py spread RUNS_DIR
      Run-to-run spread of one set of runs: (q3 - q1) / median per
      workload x metric, against each metric's bound.

Verdict rule (choosing-metrics guide, section 8): a change improved a
metric when it wins at least 9/10 of all pairs (ties count for neither
side) and the medians differ, in its favour, by more than the parent's
own interquartile distance. It is no worse when its median is not worse
than the parent's by more than the bound. When the parent's spread
(iqr / median) is wider than the bound the metric is unresolved, unless
every change run beats every parent run. Per-layer metrics have no
bound; they get a verdict only when they improved.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        b = json.load(fh)
    metrics = {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}
    return b, metrics


def load(path):
    out = []
    if os.path.exists(path):
        with open(path) as fh:
            out = [json.loads(l) for l in fh if l.strip()]
    return out


def series(runs, name):
    return [r["metrics"][name]["value"] for r in runs
            if name in r.get("metrics", {}) and r["metrics"][name]["value"] is not None]


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def better(a, b, direction):
    """True when value a is better than value b."""
    return a < b if direction == "lower" else a > b


def verdict(parent, change, m):
    d = m["better"]
    pq1, pmed, pq3 = quartiles(parent)
    cmed = statistics.median(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if better(c, p, d))
    share = wins / len(pairs) if pairs else 0.0
    iqr = pq3 - pq1
    if share >= 0.9 and better(cmed, pmed, d) and abs(cmed - pmed) > iqr:
        v = "improved"
    elif "bound" not in m:
        v = "-"
    else:
        bound = m["bound"] * abs(pmed)
        all_better = all(better(c, p, d) for c in change for p in parent)
        worse_by = (cmed - pmed) if d == "lower" else (pmed - cmed)
        if pmed and iqr / abs(pmed) > m["bound"] and not all_better:
            v = "unresolved"
        elif worse_by <= bound or all_better:
            v = "no worse"
        else:
            v = "worse"
    return (pq1, pmed, pq3), quartiles(change), share, v


def report(args):
    b, metrics = spec()
    bad = 0
    for w in [x["name"] for x in b["workloads"]]:
        par = load(os.path.join(args.dir, "parent", w + ".jsonl"))
        chg = load(os.path.join(args.dir, "change", w + ".jsonl"))
        if not par or not chg:
            continue
        print(f"== {w}: {len(par)} parent runs, {len(chg)} change runs")
        print(f"{'metric':32} {'parent q1/med/q3':>32} {'change q1/med/q3':>32} {'won':>5}  verdict")
        for name in metrics:
            p, c = series(par, name), series(chg, name)
            if not p or not c:
                continue
            pq, cq, share, v = verdict(p, c, metrics[name])
            bad += v == "worse"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{name:32} {fmt(pq):>32} {fmt(cq):>32} {share:5.0%}  {v}")
    return 1 if bad else 0


def spread(args):
    b, metrics = spec()
    worst = 0.0
    for w in [x["name"] for x in b["workloads"]]:
        runs = load(os.path.join(args.dir, w + ".jsonl"))
        if not runs:
            continue
        print(f"== {w}: {len(runs)} runs")
        for name, m in metrics.items():
            xs = series(runs, name)
            if len(xs) < 2:
                continue
            q1, med, q3 = quartiles(xs)
            s = (q3 - q1) / abs(med) if med else 0.0
            bound = m.get("bound")
            flag = "" if bound is None else (
                "ok" if s < bound / 3 else ("within bound" if s <= bound else "TOO WIDE"))
            if bound is not None and name != "setup_s":
                worst = max(worst, s / bound)
            print(f"  {name:32} median {med:<12.5g} spread {s:7.2%}  "
                  f"{'' if bound is None else f'bound {bound:.0%}'} {flag}")
    print(f"widest end-to-end spread, as a share of its bound (setup_s excluded): {worst:.2f}")
    return 0


def run(args):
    b, _ = spec()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in b["workloads"]]
    seconds = args.seconds or b["run_seconds"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    for side in sides:
        os.makedirs(os.path.join(args.out, side), exist_ok=True)
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in workloads:
            for side in order:
                cmd = ["python3", "perfbench/run.py", "--workload", w, "--seed", str(i + 1),
                       "--seconds", str(seconds), "--trace", str(args.trace)]
                p = subprocess.run(cmd, cwd=sides[side], stdout=subprocess.PIPE, text=True)
                if p.returncode != 0:
                    print(f"{side} {w} seed {i + 1}: exit {p.returncode}", file=sys.stderr)
                    continue
                with open(os.path.join(args.out, side, w + ".jsonl"), "a") as fh:
                    fh.write(p.stdout.rstrip("\n").split("\n")[-1] + "\n")
                print(f"pair {i + 1} {w} {side} done", file=sys.stderr)
    return report(argparse.Namespace(dir=args.out))


def main():
    p = argparse.ArgumentParser(description="compare benchmark runs")
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seconds", type=int)
    r.add_argument("--trace", type=int, default=0, choices=(0, 1))
    r.add_argument("--workloads")
    rep = sub.add_parser("report")
    rep.add_argument("dir")
    s = sub.add_parser("spread")
    s.add_argument("dir")
    a = p.parse_args()
    return {"run": run, "report": report, "spread": spread}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
