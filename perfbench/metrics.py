"""Arithmetic of the benchmark: percentiles, quartiles, span self time and the
per-layer sums. Pure functions over the harness's raw output, so they can be
tested without Spark."""
import statistics

MODULES = ["Generators", "Diffusion", "Metrics", "Reshape", "TrendFit",
           "Pipeline", "EventsOps", "TextOps", "Dedup", "Winnowing",
           "CorpusQc", "Curation", "Similarity", "PqOps", "OpqOps", "SqOps",
           "BqOps", "EvalOps", "Relational"]
ARTIFACTS = ["shingles", "pq_codebooks"]


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between closest
    ranks (the 'inclusive' definition): p0 is the minimum, p100 the maximum."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    xs = list(values)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def covered(intervals, lo, hi):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time}: a span's duration minus the part of its interval
    covered by its children. Spans are dicts with span, parent, start, end;
    a span that never ended has no self time."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["end"] < s["start"]:
            continue
        kids = [(c["start"], c["end"]) for c in children.get(s["span"], []) if c["end"] >= c["start"]]
        out[s["span"]] = (s["end"] - s["start"]) - covered(kids, s["start"], s["end"])
    return out


def pass_seconds(raw):
    return [(s["end"] - s["start"]) / 1e6 for s in raw["spans"] if s["kind"] == "pass"]


def end_to_end(raw, setup_s):
    """The untraced run's metrics, plus the sample counts behind them and the
    median query time (reported, not bounded: with four distinct queries it
    jumps between their clusters from run to run)."""
    passes = pass_seconds(raw)
    queries = [s["seconds"] for s in raw["samples"]]
    return {
        "pass_s": statistics.median(passes),
        "setup_s": setup_s,
    }, {"passes": len(passes), "pass_quartiles": quartiles(passes),
        "query_samples": len(queries), "query_p50_s": percentile(queries, 50)}


LAYER_COUNTERS = {
    # metric: (counter, phases it is summed over)
    "shuffle.write_bytes": ("shuffle_write_bytes", "all"),
    "shuffle.read_bytes": ("shuffle_read_bytes", "all"),
    "shuffle.records": ("shuffle_records", "all"),
    "shuffle.fetch_wait_s": ("shuffle_fetch_wait_s", "all"),
    "shuffle.write_s": ("shuffle_write_s", "all"),
    "scan.input_bytes": ("input_bytes", "all"),
    "scan.input_records": ("input_records", "all"),
    "scan.output_bytes": ("output_bytes", "all"),
    "memory.spill_bytes": ("spill_bytes", "all"),
    "codegen.compile_s": ("codegen_compile_s", "all"),
    "codegen.compiles": ("codegen_compiles", "all"),
    "codegen.fallbacks": ("warn_codegen_fallback", "all"),
    "warnings.global_window": ("warn_global_window", "all"),
    "warnings.codegen_fallback": ("warn_codegen_fallback", "all"),
    "construct.eager_jobs": ("jobs", "construct"),
    "exec.jobs": ("jobs", "exec"),
    "exec.stages": ("stages", "exec"),
    "exec.tasks": ("tasks", "exec"),
    "exec.task_run_s": ("task_run_s", "exec"),
    "exec.task_cpu_s": ("task_cpu_s", "exec"),
    "exec.gc_s": ("gc_s", "exec"),
    "checkpoint.rdds": ("checkpoint_rdds", "query"),
    "checkpoint.bytes": ("checkpoint_bytes", "query"),
}
PHASES = ("construct", "plan", "exec")

E2E_UNITS = {"pass_s": "s", "setup_s": "s"}


def _layer_unit(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes"):
        return "bytes"
    if name == "exec.core_util":
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


LAYER_NAMES = ([f"ops.{m}.s" for m in MODULES]
               + ["construct.s", "construct.driver_s", "construct.eager_jobs",
                  "construct.eager_job_s", "plan.s", "codegen.compile_s",
                  "codegen.compiles", "codegen.fallbacks", "exec.s", "exec.jobs",
                  "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
                  "exec.gc_s", "exec.core_util", "shuffle.write_bytes",
                  "shuffle.read_bytes", "shuffle.records", "shuffle.fetch_wait_s",
                  "shuffle.write_s", "scan.input_bytes", "scan.input_records",
                  "scan.output_bytes", "memory.spill_bytes", "memory.peak_exec_bytes",
                  "memory.peak_rss_mb", "memory.retained_heap_mb",
                  "checkpoint.rdds", "checkpoint.bytes"]
               + [f"artifacts.{a}.{s}_s" for a in ARTIFACTS for s in ("build", "hit")]
               + ["artifacts.pinned_rdds", "warnings.global_window",
                  "warnings.codegen_fallback", "trace.pass_s"])
LAYER_UNITS = {n: _layer_unit(n) for n in LAYER_NAMES}


def per_layer(raw):
    """Per-layer metrics of a traced run: each is the median over timed passes
    of that pass's sum (peak memory: that pass's maximum)."""
    spans = raw["spans"]
    selfs = self_times(spans)
    samples_by_pass = {}
    for q in raw["samples"]:
        samples_by_pass.setdefault(q["pass"], []).append(q)
    per_pass = []
    for p, qs in sorted(samples_by_pass.items()):
        m = {f"ops.{mod}.s": 0.0 for mod in MODULES}
        for k in LAYER_COUNTERS:
            m[k] = 0.0
        for k in ("construct.s", "construct.driver_s", "plan.s", "exec.s",
                  "memory.peak_exec_bytes"):
            m[k] = 0.0
        qids = {q["span"] for q in qs}
        for q in qs:
            m[f"ops.{q['module']}.s"] += q["seconds"]
        for s in spans:
            mine = s["span"] in qids if s["kind"] == "query" else s["parent"] in qids
            if not mine or s["kind"] not in PHASES + ("query",):
                continue
            c = s["counters"]
            for metric, (counter, where) in LAYER_COUNTERS.items():
                if (where == "all" and s["kind"] in PHASES) or where == s["kind"]:
                    m[metric] += c.get(counter, 0.0)
            if s["kind"] in PHASES:
                m[f"{s['kind']}.s"] += (s["end"] - s["start"]) / 1e6
                m["memory.peak_exec_bytes"] = max(m["memory.peak_exec_bytes"],
                                                  c.get("peak_exec_bytes", 0.0))
            if s["kind"] == "construct":
                m["construct.driver_s"] += selfs.get(s["span"], 0) / 1e6
        m["construct.eager_job_s"] = m["construct.s"] - m["construct.driver_s"]
        m["exec.core_util"] = (m["exec.task_run_s"] / (m["exec.s"] * raw["cpus"])
                               if m["exec.s"] > 0 else 0.0)
        per_pass.append(m)
    out = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    for a in ARTIFACTS:
        for step in ("build", "hit"):
            out[f"artifacts.{a}.{step}_s"] = sum(
                (s["end"] - s["start"]) / 1e6 for s in spans
                if s["kind"] == "artifact" and s["name"] == f"{a}.{step}")
    out["artifacts.pinned_rdds"] = float(raw["pinned_rdds"])
    out["memory.peak_rss_mb"] = raw["peak_rss_mb"]
    out["memory.retained_heap_mb"] = raw["retained_heap_mb"]
    out["trace.pass_s"] = statistics.median(pass_seconds(raw))
    return out
