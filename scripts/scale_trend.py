#!/usr/bin/env python3
"""Compute sf0.1 -> sf1.0 scaling exponents from two Probe logs.

exponent a satisfies t(sf) ~ sf^a between the two measured points:
a = log10(t_sf1 / t_sf01) (the data grew 10x). a <= 1 is at-or-better
than linear; the red flag the sweep exists to find is a >> 1.

Each log is the stdout of `runMain graft.tools.Probe q_a q_b ...` at one
scale (SPARK_GRAFT_SF_DIR); a `[probe] <name> <secs> s ...` line per query.

Usage: scale_trend.py sweep_sf01.log sweep_sf1.log
"""
import math
import re
import sys


def parse(path):
    out = {}
    for line in open(path):
        m = re.search(r"\[probe\] (\S+)\s+([0-9.]+) s", line)
        if m:
            out[m.group(1)] = float(m.group(2))
    return out


def main(a_path, b_path):
    t01, t1 = parse(a_path), parse(b_path)
    rows = []
    for q in t01:
        if q in t1:
            rows.append((q, t01[q], t1[q], math.log10(t1[q] / t01[q])))
    rows.sort(key=lambda r: -r[3])
    print(f"{'query':28s} {'sf0.1 s':>8s} {'sf1 s':>8s} {'exponent':>9s}")
    for q, a, b, e in rows:
        flag = "  <-- superlinear" if e > 1.15 else ""
        print(f"{q:28s} {a:8.3f} {b:8.3f} {e:9.2f}{flag}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
