#!/usr/bin/env python3
"""Reports over repeated benchmark runs.

    python3 perfbench/report.py layers [--workload W ...] [--seed N]
        One untraced and one traced run per workload: each layer's self
        time and calls per pass, Spark's job / planning / residual split
        of the same wall time, and the tracing overhead (traced minus
        untraced wall of the timed ops).

    python3 perfbench/report.py steadiness --workload W [--runs 10] [--seed0 1]
        Runs the benchmark command once per seed and prints each metric's
        median, quartiles and relative spread (q3 - q1) / median next to
        the bound BENCHMARK.json gives it. The bounds come from these
        spreads: each must stay below a third of its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402


def benchmark():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def layer_table(untraced, traced):
    """Rows (layer, calls, self seconds, jobs) per pass, plus the totals."""
    tr = metrics.Trace(traced)
    passes = traced["passes"]
    rows = {}
    for s in tr.spans.values():
        layer = "harness" if s["layer"] == "op" else s["layer"]
        r = rows.setdefault(layer, [0, 0.0, 0])
        r[0] += 1
        r[1] += tr.self_seconds(s)
        r[2] += sum(1 for j in tr.jobs if j["span"] == s["id"])
    per_pass = {k: (c / passes, t / passes, j / passes) for k, (c, t, j) in rows.items()}
    wall = lambda raw: sum(metrics.op_durations(raw, ok_only=False)) / raw["passes"]
    return per_pass, wall(untraced), wall(traced)


def layers(args):
    seconds = benchmark()["run_seconds"]
    for w in args.workload or run.WORKLOADS:
        untraced = run.run_once(w, args.seed, seconds, 0)
        traced = run.run_once(w, args.seed, seconds, 1)
        per_pass, wall0, wall1 = layer_table(untraced, traced)
        pl = metrics.per_layer(traced)
        print(f"\n{w} (seed {args.seed}, per timed pass, {traced['passes']} traced passes)")
        print(f"  {'layer':10s} {'calls':>7s} {'self_s':>9s} {'jobs':>7s}")
        for layer, (calls, secs, jobs) in sorted(per_pass.items(), key=lambda kv: -kv[1][1]):
            print(f"  {layer:10s} {calls:7.1f} {secs:9.3f} {jobs:7.1f}")
        print(f"  {'sum':10s} {'':7s} {sum(v[1] for v in per_pass.values()):9.3f}"
              f"   = traced wall {wall1:.3f} s")
        print(f"  spark split: job {pl['spark.job_s']:.3f} + plan {pl['spark.plan_s']:.3f}"
              f" + residual {pl['spark.residual_s']:.3f} = {pl['trace.wall_s']:.3f} s;"
              f" codegen {pl['spark.codegen_compiles']:.0f} compiles, {pl['spark.codegen_s']:.3f} s")
        print(f"  tracing overhead: traced {wall1:.3f} s - untraced {wall0:.3f} s"
              f" = {wall1 - wall0:+.3f} s ({(wall1 - wall0) / wall0:+.1%})")


def steadiness(args):
    b = benchmark()
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    values, bad, walls = {k: [] for k in bounds}, 0, []
    for seed in range(args.seed0, args.seed0 + args.runs):
        cmd = b["command"] + ["--workload", args.workload, "--seed", str(seed),
                              "--seconds", str(b["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        out = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        res = json.loads(line) if out.returncode == 0 else {}
        if not res.get("correct"):
            bad += 1
            sys.stderr.write(out.stderr[-2000:])
        for k, v in res.get("metrics", {}).items():
            values[k].append(v["value"])
        print(f"seed {seed} ({walls[-1]:.1f} s): {line}", flush=True)
    print(f"\n{args.workload}: {args.runs} runs, {bad} not correct,"
          f" {statistics.mean(walls):.1f} s per run")
    print(f"  {'metric':24s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        med, q1, q3, rel = metrics.spread(vs)
        flag = "ok" if rel < bounds[k] / 3 else "WIDE"
        print(f"  {k:24s} {med:12.4f} {q1:12.4f} {q3:12.4f} {rel:8.3f} {bounds[k]:>6} {flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    lp = sub.add_parser("layers")
    lp.add_argument("--workload", action="append", choices=run.WORKLOADS)
    lp.add_argument("--seed", type=int, default=1)
    sp = sub.add_parser("steadiness")
    sp.add_argument("--workload", required=True, choices=run.WORKLOADS)
    sp.add_argument("--runs", type=int, default=10)
    sp.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    layers(args) if args.cmd == "layers" else steadiness(args)


if __name__ == "__main__":
    main()
