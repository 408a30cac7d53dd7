#!/usr/bin/env python3
"""Run the repo benchmark as alternating parent/change pairs and judge a gain.

    python3 tools/perfbench_pairs.py PARENT_DIR CHANGE_DIR \
        --workload ingest_backfill --seeds 1,2,3,4,5,6,7,8,9,10 --seconds 15

For each seed, runs ``python3 perfbench/run.py --workload W --seed S
--seconds X --trace 0`` once in each checkout (pair k runs the parent first
when k is even, the change first when k is odd) and reads only the JSON line
the command prints last. Prints every run, then for each end-to-end metric
registered in CHANGE_DIR/BENCHMARK.json: each side's median and quartiles,
the pairs the change won (ties count for neither), the change's median
relative to the parent's against the metric's bound, and whether the gain
rule holds: the change wins at least 9/10 of the pairs, the medians
differ, in the better direction, by more than the distance between the
parent's quartiles, and no larger share of its operations failed. A run without a JSON line or with a null metric counts
as that metric's worst value.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
from pathlib import Path

SIDES = ("parent", "change")


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}


def value(run, name, better):
    v = run["metrics"].get(name, {}).get("value")
    if v is None:
        return math.inf if better == "lower" else -math.inf
    return v


def shown(run, name):
    v = run["metrics"].get(name, {}).get("value")
    return math.nan if v is None else v


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def failed_share(pairs, side):
    attempted = sum(p[side]["attempted"] for p in pairs)
    return sum(p[side]["failed"] for p in pairs) / attempted if attempted else 1.0


def judge(pairs, metric):
    name, better = metric["name"], metric["better"]
    sign = 1 if better == "lower" else -1
    par = [value(p["parent"], name, better) for p in pairs]
    chg = [value(p["change"], name, better) for p in pairs]
    won = sum(1 for a, b in zip(par, chg) if sign * (a - b) > 0)
    (p1, pm, p3), (c1, cm, c3) = quartiles(par), quartiles(chg)
    gap = sign * (pm - cm)  # > 0 when the change is better
    rel = (cm - pm) / pm if pm else math.nan
    worse = sign * rel > metric["bound"]
    gain = (won >= 0.9 * len(pairs) and gap > p3 - p1
            and failed_share(pairs, "change") <= failed_share(pairs, "parent"))
    return {"metric": name, "unit": metric["unit"], "better": better,
            "parent": [p1, pm, p3], "change": [c1, cm, c3],
            "won": won, "pairs": len(pairs), "rel": rel,
            "bound": metric["bound"], "worse_than_bound": worse, "gain": gain}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True,
                    help="comma-separated seeds, one pair per seed")
    ap.add_argument("--seconds", type=float, default=15)
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    bench = json.loads((args.change / "BENCHMARK.json").read_text())
    metrics = bench["end_to_end"]
    names = [m["name"] for m in metrics]
    dirs = {"parent": args.parent, "change": args.change}

    pairs = []
    print(f"{args.workload}, --seconds {args.seconds:g}, "
          f"{len(seeds)} pairs", flush=True)
    print(f"{'seed':>4} {'side':<6} {'ok':<3} {'fail/att':>8} "
          + " ".join(f"{n:>16}" for n in names), flush=True)
    for k, seed in enumerate(seeds):
        order = SIDES if k % 2 == 0 else SIDES[::-1]
        pair = {}
        for side in order:
            r = run_once(dirs[side], args.workload, seed, args.seconds)
            pair[side] = r
            vals = " ".join(f"{shown(r, n):>16.4f}" for n in names)
            print(f"{seed:>4} {side:<6} {'y' if r['correct'] else 'n':<3} "
                  f"{r['failed']:>3}/{r['attempted']:<4} {vals}", flush=True)
        pairs.append(pair)

    verdicts = [judge(pairs, m) for m in metrics]
    print()
    print(f"{'metric':<18} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} "
          f"{'won':>6} {'change/parent':>13} {'bound':>6}  gain rule")
    for v in verdicts:
        fmt = lambda q: "/".join(f"{x:.3f}" for x in q)
        flag = "WORSE THAN BOUND" if v["worse_than_bound"] else "within bound"
        print(f"{v['metric']:<18} {fmt(v['parent']):>26} {fmt(v['change']):>26} "
              f"{v['won']:>3}/{v['pairs']:<2} {v['rel']:>+12.1%} {v['bound']:>6.2f}"
              f"  {'holds' if v['gain'] else 'does not hold'}; {flag}")
    for side in SIDES:
        failed = sum(p[side]["failed"] for p in pairs)
        attempted = sum(p[side]["attempted"] for p in pairs)
        wrong = sum(1 for p in pairs if not p[side]["correct"])
        print(f"{side}: failed {failed}/{attempted} operations, "
              f"{wrong} incorrect runs of {len(pairs)}")


if __name__ == "__main__":
    main()
