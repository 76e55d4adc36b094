#!/usr/bin/env python3
"""Run one benchmark workload; print its result as the last line of stdout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py), runs the
workload in one JVM on GraftSession.local(<cores>) and checks its outputs.
The last line is one JSON object: `correct`, `attempted`, `failed` and
`metrics`. With --trace 0 the metrics are BENCHMARK.json's end-to-end
metrics; with --trace 1 they are its per-layer metrics, and the span tree,
the per-layer self-time table and the tracing overhead are written under
.bench_build/perfbench/trace/. Every file the run makes stays under
.bench_build/ of the checkout. Exits non-zero on any failed check.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

STATE = os.path.join(ROOT, ".bench_build", "perfbench")
MIX_DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "oracle", "expected.json")
DEADLINE_S = 170

# Per-layer metrics of layers a workload never enters: reported as 0.
# Every other metric must be measured by the run.
NOT_ENTERED = {
    "console_jobs": ("operators.", "streaming.", "sinks.", "loadgen.late_ms_p95"),
    "pipeline_mix": ("ops.", "streaming.", "loadgen.late_ms_p95"),
    "live_streams": ("operators.",),
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def canon(v):
    """Canonical text of one output value, the same for both engines."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "nan" if v != v else repr(v + 0.0)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(con, sql):
    """Row count and order-free SHA-256 of a result: columns by name, rows
    sorted by their canonical text."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256(("\x1f".join(cols[i] for i in order) + "\n").encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return len(rows), h.hexdigest()


def check_mix(work):
    """Compare the first warm-up outputs of the mix with the committed
    DuckDB-oracle digests; returns the mismatch messages."""
    import duckdb
    with open(EXPECTED) as f:
        expected = json.load(f)
    outs = os.path.join(work, "round0", "mix_out")
    con = duckdb.connect()
    bad = []
    for q, want in sorted(expected.items()):
        path = os.path.join(outs, q)
        if not os.path.isdir(path):
            bad.append(f"{q}: no output")
            continue
        got = digest(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
        if list(got) != [want["rows"], want["sha256"]]:
            bad.append(f"{q}: {got[0]} rows, digest {got[1][:12]}; the oracle gives "
                       f"{want['rows']} rows, digest {want['sha256'][:12]}")
    return bad


def run_jvm(args, classes, work, out):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss4m"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}", "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(os.cpu_count() or 1), "--work", work, "--data", MIX_DATA,
            "--launch-ms", str(int(time.time() * 1000)), "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - T0)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        fail(f"the benchmark JVM ended with {rc}:\n{tail}")


def write_trace(args, res, out):
    """Keep the traced run's span tree and self-time table, and the tracing
    overhead against the last untraced run of the same workload."""
    d = os.path.join(STATE, "trace")
    os.makedirs(d, exist_ok=True)
    stem = os.path.join(d, f"{args.workload}-seed{args.seed}")
    shutil.copy(os.path.join(os.path.dirname(out), res["spans_file"]), stem + ".spans.json")
    last = os.path.join(STATE, "last", args.workload + ".json")
    overhead = {}
    if os.path.exists(last):
        with open(last) as f:
            base = json.load(f)["e2e"]
        overhead = {k: {"untraced": base[k], "traced": v,
                        "ratio": v / base[k] if base[k] else None}
                    for k, v in res["e2e"].items() if k in base}
    total = res["root_ms"]
    table = sorted(res["self_time_ms"].items(), key=lambda kv: -kv[1])
    with open(stem + ".json", "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "root_ms": total,
                   "self_time_ms": dict(table), "accounted_ms": sum(v for _, v in table),
                   "tracing_overhead": overhead, "layers": res["layers"],
                   "e2e_traced": res["e2e"], "extra": res.get("extra", {})}, f, indent=1)
    print(f"self time along the blocking path, {args.workload} ({total:.0f} ms traced):")
    for k, v in table:
        print(f"  {k:16s} {v:10.1f} ms  {100 * v / total:5.1f}%")
    for k, o in overhead.items():
        if o["ratio"] is not None:
            print(f"  overhead {k}: {o['untraced']:.4g} -> {o['traced']:.4g} ({o['ratio']:.3f}x)")
    print(f"trace written to {os.path.relpath(stem, ROOT)}.{{json,spans.json}}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    try:
        classes = build.build()
    except build.BuildError as e:
        fail(str(e), 2)

    global T0
    T0 = time.time()
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        run_jvm(args, classes, work, out)
        with open(out) as f:
            res = json.load(f)
        errors = list(res["errors"])
        failed = res["failed"]
        if args.workload == "pipeline_mix":
            mix_bad = check_mix(work)
            errors += mix_bad
            failed += len(mix_bad)
        if args.trace:
            write_trace(args, res, out)
        else:
            os.makedirs(os.path.join(STATE, "last"), exist_ok=True)
            with open(os.path.join(STATE, "last", args.workload + ".json"), "w") as f:
                json.dump(res, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    group = "per_layer" if args.trace else "end_to_end"
    values = res["layers"] if args.trace else res["e2e"]
    if args.trace:
        for m in spec[group]:
            if m["name"] not in values and m["name"].startswith(NOT_ENTERED[args.workload]):
                values[m["name"]] = 0
    missing = [m["name"] for m in spec[group] if m["name"] not in values]
    if missing:
        fail(f"the run did not measure {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[group]}
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    if res.get("extra"):
        print("detail: " + json.dumps(res["extra"]))
    correct = failed == 0 and not errors
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


T0 = time.time()
if __name__ == "__main__":
    main()
