#!/usr/bin/env python3
"""Paper-slice pipeline benchmark.

    python3 perfbench/run.py --workload aoi_crop --seed 1 --seconds 3 --trace 0

Run from the repository root. Builds the program from source (see
build.py), then runs one workload in one JVM as a closed loop with one
client: at local[nproc] it commits the seeded input, warms up and runs
pipeline iterations back to back for --seconds. With --trace 0 a fresh
context at local[max(1, nproc/4)] then repeats the timed loop on the same
input for the scaling efficiency. Every iteration's output is checked outside its
timed window. Prints a metrics table, then one JSON line: the
end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics from a traced run (--trace 1).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("aoi_crop", "dense_layer", "ingest_resume")
DEADLINE_S = 170
# per-layer metrics read from a differently named layer counter
ALIASES = {"mb_written": "output_mb", "mb_rewritten": "output_mb"}
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(classes, work, **kw):
    """Run the harness JVM; return (launch time, its PERFBENCH record)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
                                 "--work", work]
    for k, v in kw.items():
        cmd += [f"--{k}", str(v)]
    log = os.path.join(work, "harness.log")
    launched = time.time()
    with open(log, "w") as err:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            fail(f"the run did not finish within {DEADLINE_S} s")
    rec = [ln for ln in p.stdout.splitlines() if ln.startswith("PERFBENCH ")]
    if p.returncode != 0 or not rec:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"the harness exited with {p.returncode}")
    return launched, json.loads(rec[-1][len("PERFBENCH "):])


def med(xs):
    return statistics.median(xs) if xs else 0.0


def images_per_s(images, walls):
    return med([n / w for n, w in zip(images, walls)])


def end_to_end(launch, a):
    imgs = sum(a["images"])
    ips = images_per_s(a["images"], a["walls_s"])
    return {
        "images_per_s": ips,
        "setup_s": (a["ready_ms"] / 1000.0 - launch) + a["prep_once_s"]
                   + med(a["rep_s"]) + a["warmup_s"],
        "cpu_s_per_kimg": a["cpu_s"] / imgs * 1000.0,
        "shuffle_mb_per_kimg": a["shuffle_write_bytes"] / 1e6 / imgs * 1000.0,
        "peak_task_mem_mb": a["peak_exec_mem_bytes"] / 1e6,
        "write_amp": (a["output_bytes"] + a["log_bytes"]) / a["committed_bytes"],
        "scaling_eff": ips / images_per_s(a["narrow_images"], a["narrow_walls_s"])
                       / (a["nproc"] / a["narrow"]),
    }


def per_layer(spec, a):
    layers = a["layers"]
    walls = a["walls_s"]
    bench = layers.setdefault("bench", {})
    bench["trace_overhead_ratio"] = med(a["traced_walls_s"]) / med(walls)
    bench["drift_last_over_first"] = walls[-1] / walls[0]
    out = {}
    for m in spec:
        layer, metric = m["name"].rsplit(".", 1)
        # a layer this workload never calls reports zero work
        out[m["name"]] = layers.get(layer, {}).get(ALIASES.get(metric, metric), 0.0)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    if not os.path.isfile("BENCHMARK.json"):
        fail("run from the repository root (no BENCHMARK.json here)", 2)
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    if not os.path.isdir(build.PROGRAM_SOURCES):
        fail(f"no program sources ({build.PROGRAM_SOURCES}) in this checkout", 2)
    out_base = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = build.build(out_base)

    work = os.path.abspath(os.path.join(out_base, f"work-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        launch, a = run_jvm(classes, work, workload=args.workload, seed=args.seed,
                            seconds=args.seconds, trace=args.trace)
        if args.trace:
            spans = os.path.join(out_base, f"spans-{args.workload}-{args.seed}.jsonl")
            os.replace(os.path.join(work, "spans.jsonl"), spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace == 0:
        metrics, spec_metrics = end_to_end(launch, a), spec["end_to_end"]
    else:
        metrics, spec_metrics = per_layer(spec["per_layer"], a), spec["per_layer"]

    runs = [a[k] for k in ("errors", "traced_errors", "narrow_errors") if k in a]
    attempted = a["warmups"] + sum(len(r) for r in runs)
    errs = a["warmup_errors"] + [e for r in runs for e in r if e is not None]
    if args.trace:
        print(f"spans: {spans}")
    print(f"host nproc={a['nproc']}; local[{a['nproc']}]: {len(a['walls_s'])} timed iterations"
          + (f"; local[{a['narrow']}]: {len(a['narrow_walls_s'])}" if a["narrow"] else ""))
    for e in errs[:5]:
        print(f"failed: {e}")
    print(f"{'ops_failed_ratio':<40} {len(errs) / attempted:>14.6g} ratio")
    if args.trace == 0:
        print(f"{'drift_last_over_first':<40} {a['walls_s'][-1] / a['walls_s'][0]:>14.6g} ratio")
    for m in spec_metrics:
        print(f"{m['name']:<40} {metrics[m['name']]:>14.6g} {m['unit']}")
    print(json.dumps({
        "correct": not errs,
        "attempted": attempted,
        "failed": len(errs),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in spec_metrics},
    }))


if __name__ == "__main__":
    main()
