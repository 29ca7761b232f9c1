#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the harness JVM, checks
every operation against the generator's truth and prints one JSON object as
the last line of stdout: {"correct", "attempted", "failed", "metrics"}.
Everything it writes goes under .bench_build/ in the checkout.
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
import gen  # noqa: E402
import verify  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
SETUP_REPS = 3
BACKFILL_DOIS = 4000
WORKLOADS = {
    # name: generator arguments, or the suite's query list
    "ingest_batches": {"batches": 6},
    "ingest_backfill": {"backfill_dois": BACKFILL_DOIS},
    "fixpoint_suite": verify.FIXPOINT_QUERIES,
    "pipeline_suite": verify.PIPELINE_QUERIES,
}
# the gated suites must end within 180 s a run; the ingest workloads are
# diagnostic (their traced form runs every operation three times)
JVM_TIMEOUT_S = {"suite": 170, "ingest": 1500}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    home = os.path.expanduser("~")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={home}/.sbt/repositories",
        "-Dsbt.offline=true", "-Xmx2g"]))
    env["SBT_OPTS"] += " -Dsbt.server.autostart=false"
    t0 = time.time()
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    if res.returncode != 0:
        log(res.stdout[-4000:], res.stderr[-4000:])
        raise SystemExit("build failed")
    cp = [l for l in res.stdout.splitlines() if l.strip()][-1].strip()
    if "perfbench" not in cp or ":" not in cp:
        log(res.stdout[-4000:])
        raise SystemExit("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"perfbench: built in {time.time() - t0:.1f}s")
    return cp


def run_jvm(cp, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Harness"] + args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        raise SystemExit(f"stopped by signal {signum}")
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        output, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise SystemExit("harness timed out")
    if proc.returncode != 0:
        log(output[-6000:])
        raise SystemExit(f"harness exited with {proc.returncode}")


def read_lines(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: the program's sources (build.sbt, "
                         "src/main/scala/graft) are not in this checkout")
    cp = build()

    tag = f"{a.workload}-{a.seed}-{a.trace}"
    data = os.path.join(BUILD, "data", tag)
    work = os.path.join(BUILD, "work", tag)
    for d in (data, work):
        shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    suite = a.workload.endswith("_suite")
    if suite:
        sizes = gen.make_suite(a.seed, data)
        truth = None
    else:
        truth = gen.make_ingest(a.seed, data, **WORKLOADS[a.workload])
        sizes = {"ops": len(truth["ops"])}
    log(f"perfbench: generated {sizes} in {time.time() - t0:.1f}s")
    os.makedirs(work, exist_ok=True)
    raw = os.path.join(work, "raw.jsonl")
    t0 = time.time()
    run_jvm(cp, ["--workload", a.workload, "--data", data, "--work", work,
                 "--out", raw, "--trace", str(a.trace),
                 "--seconds", str(a.seconds), "--cpus", str(nproc()),
                 "--setup-reps", str(SETUP_REPS),
                 "--queries", ",".join(WORKLOADS[a.workload] if suite else [])],
            work, JVM_TIMEOUT_S["suite" if suite else "ingest"])
    log(f"perfbench: harness ran {time.time() - t0:.1f}s")
    t0 = time.time()
    lines = read_lines(raw)
    if suite:
        result = verify.suite(lines, data, os.path.join(work, "verify"))
    else:
        result = verify.ingest(lines, truth)
    log(f"perfbench: verified in {time.time() - t0:.1f}s")
    if not a.trace:
        metrics = verify.end_to_end(a.workload, result)
    else:
        metrics = verify.per_layer(a.workload, result, lines)
    keep = os.path.join(BUILD, "last")
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, f"{tag}.json"), "w") as f:
        json.dump({"result": result, "metrics": metrics,
                   "spans": verify.of(lines, "span")}, f, indent=1,
                  default=str)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(data, ignore_errors=True)
    for op in result["failures"]:
        print(f"perfbench: failed {op}")
    if suite and a.trace:
        for q, v in sorted(verify.query_layers(result, lines).items()):
            print(f"perfbench: layer {q}.s={v['s']:.4f} {q}.jobs={v['jobs']:g}")
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
