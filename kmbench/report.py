"""Turns the driver's JSON document into end-to-end and per-layer metrics.

End-to-end metrics come from untraced repetitions. Per-layer metrics come
from the traced repetitions of a traced run: each call into the program is
a span, each Spark job belongs to the span that was open when it was
submitted (its job group), and each stage's task counters belong to the
job that first listed it. A layer is the program module a span's call
belongs to (`kmeans.KMeansRunner.scalableInit` -> `kmeans.KMeansRunner`).
"""

import statistics

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "work_per_s": "1/s",
}

PER_LAYER = {
    "kmeans.Points.rows_read": "count",
    "kmeans.Points.rows_dropped": "count",
    "kmeans.Points.input_b": "B",
    "kmeans.Points.scan_task_s": "s",
    "kmeans.Points.self_s": "s",
    "kmeans.KMeansRunner.init_s": "s",
    "kmeans.KMeansRunner.init_jobs": "count",
    "kmeans.KMeansRunner.iterations": "count",
    "kmeans.KMeansRunner.jobs_per_iter": "count",
    "kmeans.KMeansRunner.iter_job_s": "s",
    "kmeans.KMeansRunner.iter_self_s": "s",
    "kmeans.KMeansRunner.iter_p50_s": "s",
    "kmeans.KMeansRunner.iter_p90_s": "s",
    "kmeans.KMeansRunner.self_s": "s",
    "kmeans.Assign.map_task_s": "s",
    "kmeans.Recenter.reduce_task_s": "s",
    "kmeans.Recenter.shuffle_write_b": "B",
    "kmeans.Recenter.shuffle_records_per_row": "ratio",
    "kmeans.Sinks.write_s": "s",
    "kmeans.Sinks.rows_out": "count",
    "kmeans.Sinks.bytes_out": "B",
    "kmeans.Sinks.self_s": "s",
    "eval.Silhouette.eval_s": "s",
    "eval.Silhouette.jobs": "count",
    "eval.Silhouette.tasks": "count",
    "eval.Silhouette.shuffle_write_b": "B",
    "eval.Silhouette.task_s": "s",
    "eval.Silhouette.core_util": "ratio",
    "eval.Silhouette.leaked_frames": "count",
    "eval.Silhouette.self_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_s": "s",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_b": "B",
    "spark.shuffle_write_b": "B",
    "spark.spill_b": "B",
    "spark.codegen_compiles": "count",
    "jvm.peak_rss_mb": "MB",
    "bench.trace_overhead_s": "s",
}

ITERATION = "kmeans.KMeansRunner.iteration"
# Per-layer values come from the first traced repetitions only. Their data
# sets are the same in every traced run of a seed (a traced run has at
# least this many), so the counts repeat exactly from run to run.
LAYER_REPS = 2


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, int(-(-q * len(xs) // 100)) - 1))] if xs else 0.0


def coverage(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer(span_name):
    return span_name.rsplit(".", 1)[0]


def timed(doc):
    """Timed repetitions that completed (failed ones are counted, not timed)."""
    return [r for r in doc["reps"] if r["label"] == "timed" and "error" not in r]


def end_to_end(doc, wl):
    reps = [r for r in timed(doc) if not r["traced"]]
    if wl["kind"] == "lloyd":
        work = [wl["n"] * wl["r"] / r["loop_s"] for r in reps]
    else:
        work = [wl["n"] ** 2 / r["eval_s"] for r in reps]
    return {
        "setup_s": median(doc["setup_s"]),
        "wall_s": median([r["wall_s"] for r in reps]),
        "work_per_s": median(work),
    }


class Trace:
    """Span tree and job/stage counters of one traced driver run."""

    def __init__(self, doc):
        self.spans = {s["id"]: s for s in doc["spans"]}
        self.children = {}
        for s in doc["spans"]:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs = {}
        for j in doc["jobs"]:
            if j["group"] and j["group"].startswith("kmbench-"):
                self.jobs.setdefault(int(j["group"][len("kmbench-"):]), []).append(j)
        self.stages = {}
        for st in doc["stages"]:
            self.stages.setdefault(st["job"], []).append(st)

    def subtree(self, sid):
        out, todo = [], [self.spans[sid]]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s["id"], []))
        return out

    def named(self, root, name):
        return [s for s in self.subtree(root) if s["name"] == name]

    def jobs_of(self, spans):
        return [j for s in spans for j in self.jobs.get(s["id"], [])]

    def stages_of(self, jobs):
        return [st for j in jobs for st in self.stages.get(j["id"], [])]

    def job_time(self, span):
        """Part of the span covered by its own jobs, in ms."""
        return coverage([(j["start_ms"], j["end_ms"]) for j in self.jobs.get(span["id"], [])],
                        span["start_ms"], span["end_ms"])

    def self_time(self, span):
        """Span duration minus what child spans and its own jobs cover, in ms."""
        ivs = [(c["start_ms"], c["end_ms"]) for c in self.children.get(span["id"], [])]
        ivs += [(j["start_ms"], j["end_ms"]) for j in self.jobs.get(span["id"], [])]
        return span["end_ms"] - span["start_ms"] - coverage(ivs, span["start_ms"], span["end_ms"])


def dur_s(span):
    return (span["end_ms"] - span["start_ms"]) / 1000.0


def total(stages, key, where=lambda st: True):
    return sum(st[key] for st in stages if where(st))


def rep_layers(t, rep, cores, valid_rows):
    """Per-layer metrics of one traced repetition."""
    root = rep["span"]
    spans = t.subtree(root)
    jobs = t.jobs_of(spans)
    stages = t.stages_of(jobs)
    m = {}

    def self_s(prefix):
        return sum(t.self_time(s) for s in spans if layer(s["name"]) == prefix) / 1000.0

    def call(name):
        return t.named(root, name)

    m["kmeans.Points.input_b"] = total(stages, "in_b")
    m["kmeans.Points.scan_task_s"] = total(stages, "run_ms", lambda st: st["in_b"] > 0) / 1000.0
    m["kmeans.Points.self_s"] = self_s("kmeans.Points")

    init = call("kmeans.KMeansRunner.scalableInit")
    m["kmeans.KMeansRunner.init_s"] = sum(map(dur_s, init))
    m["kmeans.KMeansRunner.init_jobs"] = len(t.jobs_of(init))
    # the span opened after the last iteration's hook covers the loop's tail
    iters = sorted(call(ITERATION), key=lambda s: s["start_ms"])[:rep.get("iterations", 0)]
    n_it = max(1, len(iters))
    it_jobs = t.jobs_of(iters)
    it_stages = t.stages_of(it_jobs)
    m["kmeans.KMeansRunner.iterations"] = len(iters)
    m["kmeans.KMeansRunner.jobs_per_iter"] = len(it_jobs) / n_it
    m["kmeans.KMeansRunner.iter_job_s"] = sum(map(t.job_time, iters)) / n_it / 1000.0
    m["kmeans.KMeansRunner.iter_self_s"] = sum(map(t.self_time, iters)) / n_it / 1000.0
    m["kmeans.KMeansRunner.self_s"] = self_s("kmeans.KMeansRunner")
    m["kmeans.Assign.map_task_s"] = total(it_stages, "run_ms", lambda st: st["map"]) / 1000.0
    m["kmeans.Recenter.reduce_task_s"] = total(it_stages, "run_ms", lambda st: not st["map"]) / 1000.0
    m["kmeans.Recenter.shuffle_write_b"] = total(it_stages, "shuffle_write_b")
    m["kmeans.Recenter.shuffle_records_per_row"] = (
        total(it_stages, "shuffle_write_rec") / (valid_rows * len(iters)) if iters else 0.0)

    sink = call("kmeans.Sinks.finalAssignmentLines")
    sink_stages = t.stages_of(t.jobs_of(sink))
    m["kmeans.Sinks.write_s"] = sum(map(dur_s, sink))
    m["kmeans.Sinks.rows_out"] = total(sink_stages, "out_rec")
    m["kmeans.Sinks.bytes_out"] = total(sink_stages, "out_b")
    m["kmeans.Sinks.self_s"] = self_s("kmeans.Sinks")

    ev = call("eval.Silhouette.metrics")
    ev_jobs = t.jobs_of(ev)
    ev_stages = t.stages_of(ev_jobs)
    eval_s = sum(map(dur_s, ev))
    m["eval.Silhouette.eval_s"] = eval_s
    m["eval.Silhouette.jobs"] = len(ev_jobs)
    m["eval.Silhouette.tasks"] = total(ev_stages, "tasks")
    m["eval.Silhouette.shuffle_write_b"] = total(ev_stages, "shuffle_write_b")
    m["eval.Silhouette.task_s"] = total(ev_stages, "run_ms") / 1000.0
    m["eval.Silhouette.core_util"] = (
        m["eval.Silhouette.task_s"] / (eval_s * cores) if eval_s else 0.0)
    m["eval.Silhouette.leaked_frames"] = rep["leaked_frames"] if ev else 0
    m["eval.Silhouette.self_s"] = self_s("eval.Silhouette")

    r = t.spans[root]
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stages)
    m["spark.tasks"] = total(stages, "tasks")
    m["spark.job_s"] = coverage([(j["start_ms"], j["end_ms"]) for j in jobs],
                                r["start_ms"], r["end_ms"]) / 1000.0
    m["spark.task_s"] = total(stages, "run_ms") / 1000.0
    m["spark.cpu_s"] = total(stages, "cpu_ns") / 1e9
    m["spark.gc_s"] = total(stages, "gc_ms") / 1000.0
    m["spark.shuffle_read_b"] = total(stages, "shuffle_read_b")
    m["spark.shuffle_write_b"] = total(stages, "shuffle_write_b")
    m["spark.spill_b"] = total(stages, "spill_b")
    m["spark.codegen_compiles"] = r["compiles"]
    return m, [dur_s(s) for s in iters]


def per_layer(doc, cores, lines):
    t = Trace(doc)
    reps = timed(doc)
    traced = [r for r in reps if r["traced"]]
    per_rep, iter_s = [], []
    for rep in traced[:LAYER_REPS]:
        m, its = rep_layers(t, rep, cores, doc["valid_rows"])
        per_rep.append(m)
        iter_s += its
    out = {name: median([m[name] for m in per_rep]) for name in per_rep[0]}
    probe = t.jobs_of([t.spans[doc["probe_span"]]])
    out["kmeans.Points.rows_read"] = total(t.stages_of(probe), "in_rec")
    out["kmeans.Points.rows_dropped"] = lines - doc["valid_rows"]
    out["jvm.peak_rss_mb"] = doc["vmhwm_kb"] / 1024.0
    out["kmeans.KMeansRunner.iter_p50_s"] = percentile(iter_s, 50)
    out["kmeans.KMeansRunner.iter_p90_s"] = percentile(iter_s, 90)
    out["bench.trace_overhead_s"] = (
        median([r["wall_s"] for r in traced]) -
        median([r["wall_s"] for r in reps if not r["traced"]]))
    return {name: out[name] for name in PER_LAYER}
