#!/usr/bin/env python3
"""Paired A/B of one benchmark workload between two checkouts.

Runs `perfbench/run.py --workload <w> --seed <s> --seconds 15 --trace 0` in
the parent and the change checkout once per seed, alternating which side runs
first, and prints per end-to-end metric of BENCHMARK.json:

  - each side's median and quartiles;
  - the change's wins over the pairs (ties count for neither side);
  - whether a gain is shown: wins >= 9/10 of the pairs and a median gap,
    in the better direction, wider than the parent's interquartile range;
  - whether the change's median stays within the metric's regression bound.

Exits non-zero when any run reports `correct: false` or prints no result.

Usage: perf_ab.py --parent <dir> --change <dir> --workload <w> --seeds 11-20
                  [--out runs.json]

`--out` is rewritten after every finished pair, so an interrupted A/B keeps
the pairs it finished.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed):
    """The result JSON of one untraced run, or None when it printed none."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", "15", "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range a-b")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    runs, bad = [], 0
    for k, seed in enumerate(range(lo, hi + 1)):
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            res = run(getattr(args, side), args.workload, seed)
            pair[side] = res
            if res is None or not res.get("correct"):
                bad += 1
                print(f"seed {seed} {side}: " + ("no result" if res is None else
                      f"correct=false, failed {res['failed']}/{res['attempted']}"))
        runs.append(pair)
        if args.out:
            with open(args.out, "w") as f:
                json.dump(runs, f, indent=1)
        print(f"seed {seed} done ({order[0]} first)", flush=True)

    ok = [r for r in runs if r["parent"] and r["change"]]
    if not ok:
        sys.exit("no pair finished")
    print(f"\n{args.workload}: {len(ok)} pairs, seeds {lo}-{hi}")
    print(f"{'metric':18s} {'parent median [q1, q3]':>28s} {'change median [q1, q3]':>28s}"
          f" {'wins':>6s} {'gain':>5s} {'bound':>6s}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["parent"]["metrics"][name]["value"] for r in ok]
        c = [r["change"]["metrics"][name]["value"] for r in ok]
        (p1, pm, p3), (c1, cm, c3) = quartiles(p), quartiles(c)
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
        gap = (pm - cm) if lower else (cm - pm)
        gain = wins >= 0.9 * len(ok) and gap > (p3 - p1)
        within = cm <= pm * (1 + m["bound"]) if lower else cm >= pm * (1 - m["bound"])
        cells = [f"{m_:.4g} [{a:.4g}, {b:.4g}]" for m_, a, b in ((pm, p1, p3), (cm, c1, c3))]
        print(f"{name:18s} {cells[0]:>28s} {cells[1]:>28s} {f'{wins}/{len(ok)}':>6s}"
              f" {'yes' if gain else 'no':>5s} {'ok' if within else 'WORSE':>6s}")
    if bad:
        print(f"{bad} run(s) failed their output checks or printed no result")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
