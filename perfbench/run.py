#!/usr/bin/env python3
"""The repository benchmark: three user journeys, timed end to end and
split by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

One run builds the engine if needed (perfbench/build.py), generates the
workload's input slices from the seed (perfbench/gen.py), runs them in
one JVM (graftbench.Harness, Spark local[nproc], one client issuing jobs
back to back), checks every job's output (perfbench/check.py) and
prints a summary followed by one JSON line. With --trace 0 the JSON
carries the end-to-end metrics; with --trace 1 the per-layer metrics of
the traced prefix ladder. BENCHMARK.json at the repository root names
the metrics, their units and which end-to-end metric each layer metric
should move. See perfbench/README.md.
"""

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# The shortest a job plausibly takes, in seconds; it bounds how many
# input slices a run can consume.
MIN_JOB_S = 3.0
MAX_SLICES = 64
# Layer self times must sum to the traced job time within this share.
ACCOUNTING_TOLERANCE = 0.25
RUN_LIMIT_S = 170
# A fixed-size heap with a fixed young generation: the young space is
# fully touched after the first collections, so the resident high-water
# mark moves with what the engine retains, not with heap-resizing luck.
JVM_MEMORY = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def run_jvm(classpath, workload, work, inputs, seconds, trace, deadline):
    outputs = os.path.join(work, "out")
    result = os.path.join(work, "result.json")
    spans = os.path.join(work, "spans.jsonl")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *JVM_MEMORY, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Harness", "--workload", workload,
            "--inputs", inputs, "--outputs", outputs, "--work", work,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores()),
            "--result", result, "--spans", spans, "--run_id", os.path.basename(work)]
    log_path = os.path.join(work, "jvm.log")
    steal0, total0 = cpu_ticks()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-8000:])
        sys.exit(f"harness failed ({code})")
    steal1, total1 = cpu_ticks()
    with open(result) as fh:
        out = json.load(fh)
    out["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    return out, spans


def tail(times):
    """The highest percentile (nearest rank) with at least ten jobs
    beyond it, when that is at or above the median; otherwise (fewer
    than 21 jobs in the run) the slowest job. Returns (value, label)."""
    s = sorted(times)
    n = len(s)
    k = n - 10
    if k >= math.ceil(n / 2):
        return s[k - 1], f"p{100 * k // n}"
    return s[-1], "max"


def check_jobs(workload, jobs, truths):
    failed = []
    for j in jobs:
        if j["error"] is None:
            idx = int(j["slice"][1:])
            errors = check.CHECKS[workload](truths[idx], j["out"])
        else:
            errors = [j["error"]]
        if errors:
            failed.append((int(j["index"]), errors[:3]))
    return failed


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, seed, seconds, trace, keep=False):
    """One benchmark run. Returns (harness result with checks, slice truths)."""
    classpath = build.build()
    deadline = time.monotonic() + RUN_LIMIT_S
    base = os.path.join(build.BUILD, "runs")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-s{seed}-t{trace}-", dir=base)
    try:
        inputs = os.path.join(work, "in")
        slices = max(2, min(MAX_SLICES, math.ceil(seconds / MIN_JOB_S) + 2))
        truths, props = gen.generate(workload, seed, inputs, slices)
        result, spans = run_jvm(classpath, workload, work, inputs, seconds, trace, deadline)
        result["inputs"] = props
        result["failed_jobs"] = check_jobs(workload, result["jobs"], truths)
        if trace:
            ladder_errors = check.CHECKS[workload](truths[0], result["ladder_out"])
            result["ladder_errors"] = ladder_errors
            span_dir = os.path.join(build.BUILD, "spans")
            os.makedirs(span_dir, exist_ok=True)
            shutil.copy(spans, os.path.join(span_dir, os.path.basename(work) + ".jsonl"))
            result["spans"] = os.path.join(span_dir, os.path.basename(work) + ".jsonl")
        return result, truths
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)


def end_to_end(result, truths):
    jobs = result["jobs"]
    times = [j["seconds"] for j in jobs]
    records = sum(truths[int(j["slice"][1:])]["records"] for j in jobs)
    tail_s, tail_label = tail(times)
    metrics = {
        "setup_s": (statistics.median(result["setup_s"]), "s"),
        "job_s_p50": (statistics.median(times), "s"),
        "job_cpu_s_p50": (statistics.median(j["cpu_seconds"] for j in jobs), "s"),
        "job_s_tail": (tail_s, "s"),
        "records_per_s": (records / sum(times), "1/s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    notes = {"job_s_tail": f"{tail_label} of {len(times)} jobs",
             "setup_s": "median of " + ", ".join(f"{s:.3f}" for s in result["setup_s"])}
    return metrics, notes


def per_layer(spec, result):
    values = dict(result["layers"])
    values.update(result["spark"])
    untraced = statistics.median(result["untraced_job_s"])
    traced = statistics.median(result["traced_job_s"])
    values["box.cal_s"] = result["cal_s"]
    values["trace.overhead_frac"] = traced / untraced - 1.0
    values["trace.unaccounted_frac"] = 1.0 - values["ladder.total_s"] / result["ladder_job_s"]
    # a layer this workload does not run did no work: its metrics are 0
    return {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(check.CHECKS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="generator determinism and corrupted-output detection")
    args = ap.parse_args()
    if args.selftest:
        import selftest
        sys.exit(selftest.main())
    if args.workload is None:
        ap.error("--workload is required")
    spec = load_spec()
    result, truths = run(args.workload, args.seed, args.seconds, args.trace)

    attempted = len(result["jobs"])
    failed = len(result["failed_jobs"])
    print(f"workload {args.workload} seed {args.seed} cores {int(result['cores'])} "
          f"seconds {args.seconds:g} trace {args.trace}")
    print("inputs " + json.dumps(result["inputs"], sort_keys=True))
    for idx, errors in result["failed_jobs"]:
        print(f"job {idx} FAILED: " + "; ".join(errors))
    print(f"failed_frac {failed / attempted:.6g} fraction (failed {failed} of {attempted} jobs)")
    print(f"box.cal_s {result['cal_s']:.4f} s, box.steal_frac {result['steal_frac']:.4f} "
          "(CPU time the hypervisor took from this machine during the run)")
    if args.trace:
        metrics = per_layer(spec, result)
        notes = {}
        if result["ladder_errors"]:
            print("ladder output FAILED: " + "; ".join(result["ladder_errors"][:3]))
        unaccounted = metrics["trace.unaccounted_frac"][0]
        verdict = "within" if abs(unaccounted) <= ACCOUNTING_TOLERANCE else "OUTSIDE"
        print(f"trace: layer self times sum to {result['layers']['ladder.total_s']:.3f} s "
              f"of the {result['ladder_job_s']:.3f} s job, unaccounted {unaccounted:+.3f} "
              f"({verdict} the ±{ACCOUNTING_TOLERANCE} tolerance); spans in {result['spans']}")
        correct = failed == 0 and not result["ladder_errors"]
    else:
        metrics, notes = end_to_end(result, truths)
        correct = failed == 0
    for name, (value, unit) in metrics.items():
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"{name} {value:.6g} {unit}{note}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
