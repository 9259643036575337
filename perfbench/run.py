#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It compiles the engine and the harness
and makes the JVM's class-data archive of the classes a run loads (once per
source state), writes the seed's inputs, and runs the workload in one fresh
JVM: set-up (session, input footers, untimed warm-up passes),
then measured passes over the query list until S seconds have passed. It
compares every result of the first warm-up pass with the query's DuckDB oracle
and prints the metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 they are the per-layer ones, from
traced passes, plus the tracing overhead: untraced and traced passes
alternate in pairs.

Workloads, their queries and the metric map are in perfbench/workloads.json
and perfbench/README.md. Everything the run writes stays under
.bench_build/perfbench in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
HARNESS_LIMIT_S = 165  # the JVM's share of a run's 180 s, build excluded
ARCHIVE_LIMIT_S = 300
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_harness(jar, jars, data, queries, warmup, out, seconds, trace, cpus, budget,
                jvm=()):
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", *jvm,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={out / 'warehouse'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", os.pathsep.join([str(jar), str(jars / "*")]),
            "perfbench.Harness", "--data", str(data),
            "--queries", ",".join(queries), "--out", str(out),
            "--seconds", str(seconds), "--trace", str(trace),
            "--warmup", str(warmup), "--cpus", str(cpus)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    proc = subprocess.Popen(cmd, cwd=out, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: harness stopped")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        stop()
    signal.signal(signal.SIGTERM, signal.SIG_DFL)
    signal.signal(signal.SIGINT, signal.SIG_DFL)
    if code != 0:
        sys.exit(f"perfbench: harness failed with exit code {code}")


def class_archive(jar, jars, data, workloads, cpus):
    """The JVM's class-data archive of the Spark and engine classes a run
    loads, so that every run's JVM maps them instead of loading and verifying
    them one by one. Made once per build by one untimed run of every
    workload's queries, which writes the classes it loaded when it exits."""
    import build
    path = jar.with_name(build.ARCHIVE)
    if path.exists():
        return path
    partial = path.with_name(path.name + ".part")
    partial.unlink(missing_ok=True)
    out = WORK / "archive_run"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    print("perfbench: making the class-data archive", file=sys.stderr)
    queries = [q for w in workloads.values() for q in w["queries"]]
    try:
        run_harness(jar, jars, data, queries, 1, out, 0, 0, cpus, ARCHIVE_LIMIT_S,
                    jvm=[f"-XX:ArchiveClassesAtExit={partial}", "-Xlog:cds=error"])
    finally:
        shutil.rmtree(out, ignore_errors=True)
    if not partial.exists():
        sys.exit("perfbench: the JVM wrote no class-data archive")
    partial.rename(path)
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, str(HERE))
    import build, inputs, oracle, stats

    workloads = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {args.workload}; "
                 f"choose from {', '.join(workloads)}")
    queries = workloads[args.workload]["queries"]
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}

    WORK.mkdir(parents=True, exist_ok=True)
    jar = build.build(ROOT, WORK)
    jars = build.spark_jars(ROOT)
    cpus = len(os.sched_getaffinity(0))
    archive = class_archive(jar, jars, inputs.make(0, WORK), workloads, cpus)
    started = time.monotonic()
    data = inputs.make(args.seed, WORK)
    out = WORK / "runs" / str(os.getpid())
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    try:
        workload = workloads[args.workload]
        run_harness(jar, jars, data, queries, workload["warmup_passes"], out,
                    args.seconds, args.trace, cpus,
                    HARNESS_LIMIT_S - (time.monotonic() - started),
                    jvm=[f"-XX:SharedArchiveFile={archive}"])
        result = json.loads((out / "result.json").read_text())
        verdict = oracle.check(data, out, queries, result["check_errors"])
        e2e, samples, attempted, failed = stats.end_to_end(result, verdict)
        if args.trace:
            spans = [json.loads(x) for x in (out / "spans.jsonl").read_text().splitlines()]
            layers = stats.per_layer(result, spans)
    finally:
        shutil.rmtree(out, ignore_errors=True)

    measured = [p for p in result["passes"] if p["phase"] == "measure"]
    traced = sum(1 for p in measured if p["traced"])
    print(f"workload {args.workload}  seed {args.seed}  cores {cpus}  "
          f"queries {len(queries)}  measured passes {len(measured)}"
          + (f" ({traced} traced)" if args.trace else ""))
    print(f"  session and input footers ready {result['session_s']:.3f} s after JVM start")
    for name, value in e2e.items():
        xs = samples[name]
        t = stats.tail(xs)
        extra = (f"p{t[0]:g} {t[1]:.4g} over n={len(xs)}" if t
                 else f"n={len(xs)}, too few samples for a tail")
        print(f"  {name:<16} {value:.4f} {units[name]:<3} ({extra})")
    print(f"  {'failed_ratio':<16} {failed / attempted:.4f} 1   "
          f"({failed} of {attempted} query executions)")
    gcs = [p["gcs"] for p in measured]
    print(f"  garbage collections per measured pass: {min(gcs)}-{max(gcs)} "
          f"(mem_peak_mb is the largest heap in use after one of them)")
    steal = [p["steal"] for p in measured]
    print(f"  host CPU stolen by other guests during the measured passes: "
          f"{stats.median(steal):.1%} (a slow run with high steal is contention)")
    per_query = {}
    for p in measured:
        if not p["traced"]:
            for q in p["queries"]:
                per_query.setdefault(q["name"], []).append(q)
    for name, runs in per_query.items():
        def med(key):
            xs = [q[key] for q in runs if q[key] is not None]
            return f"{stats.median(xs):.3f}" if xs else "-"
        status = verdict[name] or next((q["error"] for q in runs if q["error"]), None)
        print(f"    {name:<32} latency {med('latency_s')} s = build {med('build_s')}"
              f" + drain {med('drain_s')}  {'FAILED: ' + status if status else 'ok'}")
    if args.trace:
        for name, value in layers.items():
            print(f"  {name:<26} {value:.4g} {units[name]}")
    values = layers if args.trace else e2e
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared[kind]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
