#!/usr/bin/env python3
"""K-Means + Silhouette benchmark of the graft Spark pipeline.

    python3 kmbench/run.py --workload lloyd_50k --seed 1 --seconds 15 --trace 0

Builds the program from source, generates the workload's CSV inputs from
--seed, runs the workload repeatedly for --seconds in one Spark driver JVM
at local[<=4], checks every output against NumPy, and prints each metric
by name with its unit, then one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 is a separate traced run that reports the
per-layer metrics and leaves its spans in .bench_build/kmbench/work/.
See kmbench/README.md for the workloads and the metric -> layer map.
"""

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

CORES = max(1, min(4, os.cpu_count() or 1))
SHUFFLE_PARTITIONS = 2 * CORES
# set-ups per run; each starts a session and runs one untimed repetition
SETUPS = 3
MIN_REPS = 3
JVM_TIMEOUT_S = 150
JVM_HEAP = "2g"

# Why each workload exists is recorded in kmbench/README.md.
WORKLOADS = {
    "lloyd_50k": dict(kind="lloyd", n=50_000, malformed_per_kind=10, k=8, r=5,
                      max_timed=8),
    "silhouette_5k": dict(kind="silhouette", n=5_000, malformed_per_kind=5, k=8,
                          max_timed=16),
}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def run_driver(classes, wl, inputs, seconds, max_reps, trace, work):
    jars = build.spark_jars()
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    out = work / "result.json"
    opts = {
        "kind": wl["kind"], "inputs": inputs, "k": wl["k"], "r": wl.get("r", 0),
        "cores": CORES, "partitions": SHUFFLE_PARTITIONS, "setups": SETUPS, "seconds": seconds,
        "min_reps": MIN_REPS + trace, "max_reps": max_reps, "trace": int(trace),
        "work": work, "out": out,
    }
    cmd = [build.java(), f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           "-cp", f"{classes}{os.pathsep}{jars}/*", "kmbench.Main",
           *[f"{k}={v}" for k, v in opts.items()]]
    log = work / "driver.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        tail = log.read_text(errors="replace")[-3000:]
        raise RuntimeError(f"driver exited with {code}; end of {log}:\n{tail}")
    return json.loads(out.read_text())


def verify_rep(rep, wl, manifest):
    """Failures of one repetition, checked against its own data set."""
    if "error" in rep:
        return [rep["error"]]
    pts, file_seeds = gen.load(manifest)
    if wl["kind"] == "silhouette":
        expected = oracle.silhouette(pts, oracle.assign(pts, file_seeds))
        return oracle.check_silhouette(rep["silhouette"], expected)
    fails = []
    if rep["iterations"] != wl["r"]:
        fails.append(f"{rep['iterations']} iterations, expected {wl['r']}")
    # Lloyd from the seeds scalableInit returned
    ids, centers = oracle.lloyd(pts, rep["seeds"], wl["r"])
    fails += oracle.check_centers(rep["centers"], ids, centers)
    # labels in the output are positions in the final center list
    fails += oracle.check_assignment_lines(rep["sink_dir"], pts, centers)
    shutil.rmtree(rep["sink_dir"])
    return fails


def verify_run(doc, manifests):
    """Failures that concern every repetition of the run."""
    m = manifests[0]
    fails = oracle.check_dropped(m["lines"], doc["valid_rows"], m["malformed"])
    first = doc["reps"][0]
    repeat = doc["init_repeat"]
    if repeat is not None and "error" not in first and repeat != first["seeds"]:
        fails.append("scalableInit returned other seeds when called again on the same data")
    return fails


def run_workload(name, seed, seconds, trace, classes):
    """Runs one workload and prints its metrics; returns the exit code."""
    wl = WORKLOADS[name]
    work = build.OUT / "work" / name
    shutil.rmtree(work, ignore_errors=True)
    inputs = work / "inputs"
    inputs.mkdir(parents=True)
    max_reps = SETUPS + wl["max_timed"]
    manifests = [gen.generate(seed, i, wl["n"], wl["k"], wl["malformed_per_kind"],
                              str(inputs / f"points-{i}.csv"), str(inputs / f"seeds-{i}.csv"))
                 for i in range(max_reps)]
    try:
        doc = run_driver(classes, wl, inputs, seconds, max_reps, trace, work)
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 1

    rep_fails = [verify_rep(r, wl, m) for r, m in zip(doc["reps"], manifests)]
    run_fails = verify_run(doc, manifests)
    for r, f in zip(doc["reps"], rep_fails):
        for msg in f + run_fails:
            print(f"FAIL {r['label']} repetition: {msg}", file=sys.stderr)
    attempted = len(rep_fails)
    failed = sum(1 for f in rep_fails if f or run_fails)

    timed = report.timed(doc)
    if not timed or (trace and not any(r["traced"] for r in timed)):
        print("no repetition completed; no metrics", file=sys.stderr)
        return 1
    if trace:
        metrics = report.per_layer(doc, CORES, manifests[0]["lines"])
        units = report.PER_LAYER
        (work / "layers.json").write_text(json.dumps(metrics, indent=1))
        note = f"{sum(r['traced'] for r in timed)} traced + " \
               f"{sum(not r['traced'] for r in timed)} untraced repetitions"
    else:
        metrics = report.end_to_end(doc, wl)
        units = report.END_TO_END
        note = f"median of {len(timed)} repetitions, {SETUPS} set-ups"
    print(f"# {name} seed={seed}: {note}, local[{CORES}], "
          f"failed {failed}/{attempted} (failed_frac {failed / attempted:.3g})")
    for metric, value in metrics.items():
        print(f"{metric} = {value:.6g} {units[metric]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {metric: {"value": value, "unit": units[metric]}
                    for metric, value in metrics.items()},
    }), flush=True)
    return 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"],
                    help="a workload, or all of them one after the other")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        classes = build.ensure()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    return max(run_workload(name, args.seed, args.seconds, bool(args.trace), classes)
               for name in names)


if __name__ == "__main__":
    sys.exit(main())
