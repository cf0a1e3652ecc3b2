#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the JVM harness from source on first use (into
$CARGO_TARGET_DIR, default .bench_build), runs workload W in a fresh JVM
on local[nproc] with one driver thread issuing one op at a time, checks
every output (DuckDB oracle, row counts, and the harness's own
references) outside the timed region, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the run registers Spark listeners and records spans, and
the metrics are the per-layer ones. The corpus is read from
$PERFBENCH_CORPUS (default ~/testdata, see TESTDATA.md) and is never
written; everything the run writes goes under the build directory and is
removed when the run ends.
"""
import argparse
import glob
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
import metrics  # noqa: E402

WORKLOADS = ("dedup_pipeline", "manifest_rw")
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def call(cmd, log, timeout, **kw):
    """Runs `cmd` in its own process group with output to `log`; on timeout
    kills the whole group. Returns the exit code once every process ended."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles library and harness with sbt; returns (classpath, jvm options)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to perfbench/: run from a checkout of the repository")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    launch = os.path.join(out, "launch.txt")
    stamp_file = os.path.join(out, "stamp")
    stamp = source_stamp()
    fresh = os.path.exists(launch) and os.path.exists(stamp_file) \
        and open(stamp_file).read() == stamp
    if not fresh:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
                    "-Xmx2g"]
            repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(out, "sbt.log")
        code = call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     f"-Dperfbench.launch={launch}", "launchFile"],
                    log, BUILD_TIMEOUT_S, cwd=HERE, env=env)
        if code != 0 or not os.path.exists(launch):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail("build failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    with open(launch) as fh:
        lines = fh.read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


def run_jvm(classpath, opts, args, work):
    """Runs the harness in a fresh JVM; returns its raw result."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    cmd = (["java"] + opts + [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                              "-cp", classpath, "graft.perfbench.Main",
                              "--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--corpus", args.corpus, "--work", work, "--out", out,
                              "--launched", repr(time.time() * 1000.0)])
    code = call(cmd, log, JVM_TIMEOUT_S, cwd=work)
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {code}")
    with open(log) as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    with open(out) as fh:
        return json.load(fh)


def duck(sf):
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def spark_rows(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise ValueError(f"no parquet under {path}")
    return con.execute("SELECT * FROM read_parquet(?)", [files]).fetchdf()


def same_frame(got, exp):
    """The tools/check.py comparison: columns by name, rows in order,
    floats exactly equal or both NaN."""
    import numpy as np
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        g, e = got[c].to_numpy(), exp[c].to_numpy()
        if g.dtype.kind == "f" or e.dtype.kind == "f":
            eq = (g == e) | (np.isnan(g.astype(float)) & np.isnan(e.astype(float)))
        else:
            eq = np.array([x == y or (x is None and y is None) for x, y in zip(g, e)])
        if not eq.all():
            i = int(np.argmin(eq))
            return f"col={c} row={i} spark={g[i]!r} oracle={e[i]!r} ({int((~eq).sum())} diffs)"
    return None


def check_outputs(raw):
    """Runs the deferred checks; marks each failing op's error."""
    cons, oracles = {}, {}
    for d in raw["deferred"]:
        con = cons.get(d["sf"]) or cons.setdefault(d["sf"], duck(d["sf"]))
        try:
            got = spark_rows(con, d["path"])
            key = (d["sf"], d["sql"])
            if key not in oracles:
                oracles[key] = con.execute(d["sql"]).fetchdf()
            if d["kind"] == "no_dup":
                # the larger id of a near-duplicate pair never survives dedup
                dups = set(got["doc_id"]) & set(oracles[key]["db"])
                err = None if len(got) > 0 and not dups else \
                    f"{len(got)} rows, {len(dups)} of them near-duplicates"
            else:
                err = same_frame(got, oracles[key])
        except Exception as e:  # a check that cannot run is a failed check
            err = f"check error: {e}"
        if err:
            print(f"[perfbench] {d['name']} output wrong: {err}", file=sys.stderr)
            op = raw["ops"][d["op"]]
            op["error"] = op["error"] or err


def corpus():
    path = os.path.abspath(os.environ.get(
        "PERFBENCH_CORPUS", os.path.expanduser(os.path.join("~", "testdata"))))
    if not os.path.isdir(os.path.join(path, "sf0.1")):
        fail(f"corpus {path} has no sf0.1; set PERFBENCH_CORPUS")
    return path


def run_once(workload, seed, seconds, trace):
    """Builds if needed, runs one workload and checks its outputs; returns
    the raw result with each failed op's error filled in."""
    args = argparse.Namespace(workload=workload, seed=seed, seconds=seconds, trace=trace,
                              corpus=corpus())
    classpath, opts = build()
    work = os.path.join(build_dir(), f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        raw = run_jvm(classpath, opts, args, work)
        check_outputs(raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return raw


def result_line(raw, trace):
    """The benchmark's output object for one run."""
    failed = sum(1 for o in raw["ops"] if o["error"] is not None)
    values = metrics.per_layer(raw) if trace else metrics.end_to_end(raw)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if trace else "end_to_end"]
    return {
        "correct": failed == 0, "attempted": len(raw["ops"]), "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    raw = run_once(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(result_line(raw, a.trace)))


if __name__ == "__main__":
    main()
