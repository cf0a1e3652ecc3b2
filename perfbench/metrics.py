"""Arithmetic of the benchmark: percentiles, interval unions and the
end-to-end and per-layer metrics computed from one run's raw result.

Pure functions over the JSON the JVM harness writes; run.py, report.py and
test_metrics.py import them. Times in the raw result are epoch
milliseconds; every metric here is in the unit BENCHMARK.json names.
"""
import statistics


def percentile(values, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n, beyond=10):
    """The highest percentile with at least `beyond` of `n` samples above it,
    never below the median: 100 * (1 - beyond / n), floored at 50."""
    if n <= 0:
        raise ValueError("no samples")
    return max(50.0, 100.0 * (1.0 - beyond / n))


def union(intervals):
    """Sorted, disjoint intervals covering the same points as `intervals`."""
    out = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def length(intervals):
    """Total length of the union of `intervals`."""
    return sum(b - a for a, b in union(intervals))


def clip(intervals, lo, hi):
    """`intervals` cut to the window [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def residual(wall_windows, jobs, phases):
    """Per-window split of wall time into Spark jobs, planning outside jobs
    and the residual, summed over the windows. The three parts add up to
    the windows' total length exactly."""
    job_s = plan_s = res_s = 0.0
    for lo, hi in wall_windows:
        j = length(clip(jobs, lo, hi))
        both = length(clip(list(jobs) + list(phases), lo, hi))
        job_s += j
        plan_s += both - j
        res_s += (hi - lo) - both
    return job_s, plan_s, res_s


def ratio(num, den):
    """num / den, or 0.0 when there is nothing to divide by."""
    return num / den if den else 0.0


def write_amp(bytes_written, plain_bytes):
    """Bytes written under the table directory per byte of the same user
    rows written as plain parquet."""
    return ratio(bytes_written, plain_bytes)


def spread(values):
    """(median, first quartile, third quartile, (q3 - q1) / median), the
    quartiles as statistics.quantiles(values, n=4) gives them."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, ratio(q3 - q1, abs(med))


def op_durations(raw, ok_only=True):
    """Seconds per timed op, in run order."""
    return [(o["t1"] - o["t0"]) / 1000.0 for o in raw["ops"]
            if not (ok_only and o["error"] is not None)]


def end_to_end(raw):
    """The end-to-end metrics of one untraced run."""
    ok = op_durations(raw)
    timed = sum(op_durations(raw, ok_only=False))
    setup = (raw["first_op"] - raw["launched"]) / 1000.0
    p = tail_percentile(len(ok)) if ok else 50.0
    return {
        "setup_s": setup,
        "ops_per_s": ratio(len(ok), timed),
        "lat_p50_s": percentile(ok, 50) if ok else timed,
        "lat_tail_s": percentile(ok, p) if ok else timed,
    }


class Trace:
    """Spans and jobs of a traced run, restricted to the timed ops."""

    def __init__(self, raw):
        t = raw["trace"]
        self.spans = {s["id"]: s for s in t["spans"] if s["op"] >= 0}
        self.jobs = [j for j in t["jobs"] if j["span"] in self.spans]
        self.phases = [tuple(p) for p in t["phases"]]
        self.windows = [(o["t0"], o["t1"]) for o in raw["ops"]]
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s)

    def named(self, layer, name=None):
        return [s for s in self.spans.values()
                if s["layer"] == layer and (name is None or s["name"] == name)]

    def under(self, span):
        """Ids of `span` and every span inside it."""
        ids, todo = set(), [span]
        while todo:
            s = todo.pop()
            ids.add(s["id"])
            todo.extend(self.children.get(s["id"], []))
        return ids

    def jobs_in(self, spans):
        ids = set()
        for s in spans:
            ids |= self.under(s)
        return [j for j in self.jobs if j["span"] in ids]

    def seconds(self, spans):
        return sum(s["t1"] - s["t0"] for s in spans) / 1000.0

    def self_seconds(self, span):
        """The span's time minus the part its child spans cover."""
        kids = [(c["t0"], c["t1"]) for c in self.children.get(span["id"], [])]
        return (span["t1"] - span["t0"] - length(clip(kids, span["t0"], span["t1"]))) / 1000.0


MB = 1024.0 * 1024.0


def per_layer(raw):
    """The per-layer metrics of one traced run. Times and counts are per
    timed pass; ratios are over the whole timed region, and ml.candidates
    and ml.cuts are per CAIM fit."""
    tr = Trace(raw)
    passes = raw["passes"]
    facts = raw["facts"]
    cpus = raw["cpus"]
    jobs = tr.jobs
    job_ms = [(j["t0"], j["t1"]) for j in jobs]
    job_s, plan_s, res_s = residual(tr.windows, job_ms, tr.phases)
    task_s = sum(j["task_ms"] for j in jobs) / 1000.0
    wall = sum(hi - lo for lo, hi in tr.windows) / 1000.0
    m = {
        "trace.wall_s": wall,
        "spark.jobs": len(jobs),
        "spark.job_s": job_s / 1000.0,
        "spark.stages": sum(j["stages"] for j in jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.task_s": task_s,
        "spark.idle_slot_s": job_s / 1000.0 * cpus - task_s,
        "spark.tasks_failed": sum(j["tasks_failed"] for j in jobs),
        "spark.plan_s": plan_s / 1000.0,
        "spark.residual_s": res_s / 1000.0,
        "spark.codegen_compiles": raw["codegen_compiles"],
        "spark.codegen_s": raw["codegen_ms"] / 1000.0,
        "spark.shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / MB,
        "spark.shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / MB,
        "spark.shuffle_records": sum(j["shuffle_records"] for j in jobs),
        "spark.spill_mb": sum(j["spill"] for j in jobs) / MB,
        "spark.cached_blocks": sum(o["cached_blocks"] for o in raw["ops"]),
    }

    def layer_s(layer, name=None):
        return tr.seconds(tr.named(layer, name))

    def layer_jobs(layer, names):
        return tr.jobs_in([s for n in names for s in tr.named(layer, n)])

    fits = tr.named("ml", "fit")
    fit_jobs = tr.jobs_in(fits)
    fit_job_s = sum(length(clip([(j["t0"], j["t1"]) for j in tr.jobs_in([f])], f["t0"], f["t1"]))
                    for f in fits) / 1000.0
    pair_jobs = layer_jobs("llm", ["pairs"])
    pair_records = sum(j["shuffle_records"] for j in pair_jobs)
    pairs_out = facts.get("pairs_out", 0)
    written = facts.get("bytes_written", {})
    plain = facts.get("plain_bytes", {})
    m.update({
        "queries.build_s": layer_s("queries", "build"),
        "queries.build_jobs": len(layer_jobs("queries", ["build"])),
        "queries.force_s": layer_s("queries", "force"),
        "ml.fit_s": layer_s("ml", "fit"),
        "ml.fit_jobs": len(fit_jobs),
        "ml.fit_job_s": fit_job_s,
        "ml.fit_driver_s": layer_s("ml", "fit") - fit_job_s,
        "ml.transform_s": layer_s("ml", "transform"),
        "ml.candidates": facts.get("candidates", 0) if fits else 0,
        "ml.cuts": facts.get("cuts", 0) if fits else 0,
        "llm.pairs_s": layer_s("llm", "pairs"),
        "llm.components_s": layer_s("llm", "components"),
        "llm.survivors_s": layer_s("llm", "survivors"),
        "llm.boilerplate_s": layer_s("llm", "boilerplate"),
        "llm.annotate_s": sum(tr.self_seconds(s) for s in tr.named("llm", "annotate")),
        "llm.pair_shuffle_records": pair_records,
        "llm.pairs_out": pairs_out,
        "llm.pair_yield": ratio(pairs_out, pair_records),
        "manifest.commit_s": layer_s("manifest", "commit"),
        "manifest.upsert_s": layer_s("manifest", "upsert"),
        "manifest.delete_s": layer_s("manifest", "delete"),
        "manifest.optimize_s": layer_s("manifest", "optimize"),
        "manifest.write_jobs": len(layer_jobs("manifest", ["commit", "upsert", "delete", "optimize"])),
        "manifest.read_s": layer_s("manifest", "read"),
        "manifest.pruned_read_s": layer_s("manifest", "pruned_read"),
        "manifest.incremental_read_s": layer_s("manifest", "incremental_read"),
        "manifest.files_kept_ratio": ratio(facts.get("files_kept", 0), facts.get("files_considered", 0)),
        "manifest.bytes_written_mb": sum(written.values()) / MB,
        "manifest.files_live": facts.get("files_live", 0),
        "manifest.write_amp": write_amp(sum(written.values()), sum(plain.values())),
        "manifest.space_amp": ratio(facts.get("final_bytes", 0), facts.get("final_plain_bytes", 0)),
    })
    whole_run = {"llm.pair_yield", "manifest.files_kept_ratio", "manifest.write_amp",
                 "manifest.space_amp", "ml.candidates", "ml.cuts"}
    return {k: (v if k in whole_run else v / passes) for k, v in m.items()}
