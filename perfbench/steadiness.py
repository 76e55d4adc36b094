#!/usr/bin/env python3
"""Steadiness record: run every workload on N seeds and report, per
end-to-end metric, the median, the quartiles and the quartile spread as a
share of the median, against the metric's bound in BENCHMARK.json. Two
traced runs of one seed per workload show which count and byte metrics
repeat exactly. Graft.Bench's spin calibration is recorded before and after, as
host context.

    python3 perfbench/steadiness.py --runs 10 [--workloads a,b] [--out FILE]

Writes the record as JSON (default .bench_build/perfbench/steadiness.json)
and a summary beside it, with the extension .md.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
from run import NOT_ENTERED  # noqa: E402


def host_calib():
    classes = build.build()
    p = subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{classes}:{build.spark_jars()}/*",
                        "graft.perfbench.HostCalib"], capture_output=True, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, cwd=ROOT)
    res = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else None
    if p.returncode != 0 or res is None:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    return res, time.time() - t0


def count_check(spec, workload, seed):
    """Count and byte metrics of two traced runs of one seed: the names
    that read the same in both, and the names that do not."""
    counts = [m["name"] for m in spec["per_layer"] if m["unit"] in ("count", "bytes")]
    traced = [run(workload, seed, spec["run_seconds"], 1)[0] for _ in range(2)]
    a, b = ({k: v["value"] for k, v in t["metrics"].items() if k in counts} for t in traced)
    return sorted(k for k in a if a[k] == b[k]), sorted(k for k in a if a[k] != b[k])


def markdown(record):
    """Summary tables of a steadiness record."""
    cb, ca = record["calib_before"], record["calib_after"]
    out = [f"Host: {record['cores']} cores; run_seconds {record['run_seconds']}. "
           f"Spin calibration (graft.Bench's, median of 3; host context, not a metric): "
           f"serial {cb['spin_serial_ms']:.0f} ms / all-core {cb['spin_parallel_ms']:.0f} ms "
           f"before, {ca['spin_serial_ms']:.0f} / {ca['spin_parallel_ms']:.0f} ms after.", ""]
    for w, r in record["workloads"].items():
        walls = [x["wall_s"] for x in r["runs"]]
        entered = [k for k in r["counts_repeat"] if not k.startswith(NOT_ENTERED[w])]
        out += [f"## {w}", "",
                f"{len(r['runs'])} runs, seeds {r['runs'][0]['seed']}..{r['runs'][-1]['seed']}; "
                f"wall per run {min(walls):.0f}-{max(walls):.0f} s (median "
                f"{statistics.median(walls):.0f} s); failed "
                f"{sum(x['failed'] for x in r['runs'])} of {sum(x['attempted'] for x in r['runs'])}.",
                "", "| metric | median | q1 | q3 | spread | bound | < bound/3 |",
                "|---|---|---|---|---|---|---|"]
        for m, s in r["end_to_end"].items():
            out.append(f"| {m} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
                       f"{s['spread']:.3f} | {s['bound']} | "
                       f"{'yes' if s['within_third_of_bound'] else 'no'} |")
        out += ["", "Count and byte metrics of the layers it enters that are equal in two "
                "traced runs of one seed: " + (", ".join(f"`{k}`" for k in entered) or "none") + ".",
                "", "Count and byte metrics that differ: "
                + (", ".join(f"`{k}`" for k in r["counts_differ"]) or "none") + ".", ""]
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads")
    ap.add_argument("--out", default=os.path.join(build.BUILD, "steadiness.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    record = {"calib_before": host_calib(), "run_seconds": spec["run_seconds"],
              "cores": os.cpu_count(), "workloads": {}}
    for w in names:
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            res, wall = run(w, seed, spec["run_seconds"], 0)
            runs.append({"seed": seed, "wall_s": round(wall, 1), "attempted": res["attempted"],
                         "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(w, seed, f"{wall:.0f}s", {k: round(v, 3) for k, v in runs[-1]["metrics"].items()},
                  flush=True)
        stats = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med
            stats[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
                                "bound": m["bound"], "within_third_of_bound": spread < m["bound"] / 3}
            print(f"  {m['name']:18s} median {med:12.4f}  spread {spread:.3f}  bound {m['bound']}")
        same, differ = count_check(spec, w, args.first_seed)
        print(f"  count metrics that differ between two traced runs of seed {args.first_seed}: {differ}")
        record["workloads"][w] = {"runs": runs, "end_to_end": stats,
                                  "counts_repeat": same, "counts_differ": differ}
    record["calib_after"] = host_calib()
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    with open(os.path.splitext(args.out)[0] + ".md", "w") as f:
        f.write("# Steadiness record\n\n" + markdown(record))
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
