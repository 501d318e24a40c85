#!/usr/bin/env python3
"""A/B the benchmark between two checkouts, in alternating pairs.

    python3 tools/perfbench_ab.py PARENT_DIR CHANGE_DIR --workload catalog_ops --seeds 601-610

For each seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace T` once in each checkout, one run at a time, and
alternates which side runs first (the first seed starts with the parent).
A run whose `correct` is false or whose `failed` is above 0 stops the
comparison: its timings would compare a broken build.

It prints every run's metrics and `host.foreign_core_s`, then for each
metric the median and quartiles of each side, the change/parent ratio of
the medians, the pairs the change won (ties count for neither side), and
whether the medians differ by more than the parent's own quartile spread;
then each op's median latency per side. Which way is better comes from the
parent's BENCHMARK.json.

It writes nothing itself. The runs write what run.py writes: the build
under each checkout's gitignored perfbench/.build, .work and .state, and
Spark's scratch files under the temp dir.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(values):
    out = []
    for v in values:
        for part in v.split(","):
            if "-" in part:
                a, b = part.split("-", 1)
                out.extend(range(int(a), int(b) + 1))
            elif part:
                out.append(int(part))
    return out


def run_once(checkout, workload, seed, seconds, trace):
    """One benchmark run; returns its metrics, each op's median latency and
    the host's foreign CPU."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"perfbench_ab: run failed in {checkout} (seed {seed}, exit {proc.returncode})")
    res = json.loads(lines[-1])
    ops, foreign = {}, None
    for line in lines[:-1]:
        parts = line.split()
        if line.startswith("# op ") and len(parts) == 5:
            ops.setdefault(parts[2], []).append(float(parts[3]))
        for p in parts:
            if p.startswith("host.foreign_core_s="):
                foreign = float(p.split("=", 1)[1])
    if not res["correct"] or res["failed"] > 0:
        fails = [l for l in lines if l.startswith("# FAIL")]
        raise SystemExit(f"perfbench_ab: refused run in {checkout} (seed {seed}): correct="
                         f"{res['correct']} failed={res['failed']}\n" + "\n".join(fails))
    return ({k: v["value"] for k, v in res["metrics"].items()},
            {op: statistics.median(ms) for op, ms in ops.items()}, foreign)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, nargs="+", help="e.g. 601-610 or 601,605")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    seeds = seeds_arg(a.seeds)
    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        spec = json.load(f)
    section = spec["per_layer"] if a.trace else spec["end_to_end"]
    better = {m["name"]: m["better"] for m in section}

    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            print(f"# pair {i + 1}/{len(seeds)} seed {seed}: {side}"
                  f"{' first' if side == order[0] else ''}", file=sys.stderr, flush=True)
            metrics, ops, foreign = run_once(sides[side], a.workload, seed, a.seconds, a.trace)
            runs[side].append({"seed": seed, "first": side == order[0], "metrics": metrics,
                               "ops": ops, "foreign": foreign})

    names = [m["name"] for m in section]
    print(f"# {a.workload}, {len(seeds)} pairs, seeds {seeds}, --seconds {a.seconds:g} "
          f"--trace {a.trace}")
    print("# every run (* ran first in its pair):")
    print("seed side   " + " ".join(f"{n:>12}" for n in names) + "  foreign_core_s")
    for i in range(len(seeds)):
        for side in ("parent", "change"):
            r = runs[side][i]
            vals = " ".join(f"{r['metrics'][n]:12.4g}" for n in names)
            mark = "*" if r["first"] else " "
            print(f"{r['seed']:4d} {side:6s}{mark} {vals}  {r['foreign']}")

    print()
    print(f"{'metric':28s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} "
          f"{'ratio':>7s} {'won':>6s}  beyond parent IQR")
    for n in names:
        p = [r["metrics"][n] for r in runs["parent"]]
        c = [r["metrics"][n] for r in runs["change"]]
        pm, cm = statistics.median(p), statistics.median(c)
        pq1, pq3 = quartiles(p)
        cq1, cq3 = quartiles(c)
        lower = better.get(n, "lower") == "lower"
        won = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
        ratio = cm / pm if pm else float("nan")
        beyond = abs(cm - pm) > (pq3 - pq1)
        print(f"{n:28s} {f'{pq1:.4g}/{pm:.4g}/{pq3:.4g}':>30s} {f'{cq1:.4g}/{cm:.4g}/{cq3:.4g}':>30s} "
              f"{ratio:7.3f} {f'{won}/{len(p)}':>6s}  {'yes' if beyond else 'no'}")

    ops = sorted(set().union(*(r["ops"] for side in runs.values() for r in side)))
    if ops:
        print()
        print(f"{'op median ms':28s} {'parent':>10s} {'change':>10s} {'ratio':>7s}")
        for op in ops:
            p = [r["ops"][op] for r in runs["parent"] if op in r["ops"]]
            c = [r["ops"][op] for r in runs["change"] if op in r["ops"]]
            if p and c:
                pm, cm = statistics.median(p), statistics.median(c)
                print(f"{op:28s} {pm:10.1f} {cm:10.1f} {cm / pm if pm else float('nan'):7.3f}")


if __name__ == "__main__":
    main()
