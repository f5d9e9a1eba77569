#!/usr/bin/env python3
"""The graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine with the benchmark's own
sbt project when the sources changed since the last build, generates the
seeded inputs, runs the workload in one JVM, checks the outputs, prints
every metric by name with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics. The exit code is 0 only when every correctness gate held.
See perfbench/README.md for the workloads and the metric definitions.
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

WORKLOADS = ("cdc_pipeline", "warehouse_sql")
RUN_LIMIT_S = 170  # a run must end within 180 s once built
BUILD_LIMIT_S = 840  # the first run of a checkout also builds
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
STAMP = os.path.join(TARGET, "build-stamp")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sources_digest():
    """Digest of everything the build compiles, to skip unchanged builds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found; run from the repository root")
    digest = sources_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH) and open(STAMP).read() == digest:
        return 0.0
    if shutil.which("sbt") is None:
        fail("sbt not found")
    log("building the engine and the benchmark (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_LIMIT_S)
    if p.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    # a class-data-sharing archive of the classes a session loads cuts JVM
    # and session start-up by several seconds per run; without it the JVM
    # loads classes as usual
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    tmp = os.path.join(TARGET, "archive-tmp")
    subprocess.run(java_cmd([f"-XX:ArchiveClassesAtExit={ARCHIVE}"], ["--archive"], tmp),
                   cwd=TARGET, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                   timeout=BUILD_LIMIT_S)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return time.time() - t0


def java_cmd(jvm_flags, main_args, tmp):
    """The JVM command line; Spark's and Hadoop's scratch files go under `tmp`."""
    cp = open(CLASSPATH).read().strip()
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}"] + jvm_flags
            + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main"] + main_args)


def run_jvm(args, work, data, out, deadline):
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = java_cmd(share, ["--workload", args.workload, "--seed", str(args.seed),
                           "--seconds", str(args.seconds), "--trace", str(args.trace),
                           "--data", data, "--work", work, "--out", out],
                   os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "wb") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("the workload ran past the time limit", 3)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log"), "rb") as f:
            sys.stderr.write(f.read().decode(errors="replace")[-4000:])
        fail(f"the workload JVM exited with {rc}", 4)


def unit_of(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or "_s_per_" in name or name.endswith(".cpu_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if "amp" in name or name.startswith("scan.") or name == "error_rate":
        return "ratio"
    return "count"


# The bounded end-to-end metrics. latency_p50_s is measured too but only
# reported: over one cycle's 4 to 14 operations its ten-run spread came
# within the 0.25 bound only narrowly on this noisy host, while ops_per_s
# (the closed loop's throughput, the reciprocal of mean latency) held
# about half that.
E2E = {"setup_s": "s", "ops_per_s": "1/s"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.time()
    built_s = build()
    # the JVM must leave time for the checks that follow it
    deadline = t_start + built_s + RUN_LIMIT_S - 15

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        if args.workload == "warehouse_sql":
            import gen
            gen.write(args.seed, data)
        out = os.path.join(work, "result.json")
        run_jvm(args, work, data, out, deadline)
        res = json.load(open(out))
        failed, problems = res["failed"], list(res["problems"])
        if failed:
            problems.append(f"{failed} of {res['attempted']} operations failed")

        import checks
        phases = [d for d in sorted(os.listdir(work)) if d.startswith(("e2e-", "traced-"))]
        for d in phases:
            run_dir = os.path.join(work, d)
            if not os.path.exists(os.path.join(run_dir, "warehouse.json")):
                continue
            f, p = checks.check_warehouse(run_dir, data)
            fq, pq = checks.check_queries(run_dir, data, int(res["named"]["cycles"]))
            f, p = f + fq, p + pq
            problems += [f"{d}: {x}" for x in p]
            failed += f if d.startswith("e2e-") else 0
        failed = min(failed, res["attempted"])
        correct = not problems

        named = dict(res["named"], latency_p50_s=res["e2e"]["latency_p50_s"],
                     error_rate=failed / max(1, res["attempted"]))
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "setups_s": res["setups_s"], "named": named,
                          "problems": problems}))
        for k, unit in E2E.items():
            print(f"e2e {k} = {res['e2e'][k]} {unit}")
        for k, v in named.items():
            if isinstance(v, dict):
                print(f"{args.workload} {k} = {v['value']} {unit_of(k)} "
                      f"(p{v['percentile']}, n={v['n']})")
            else:
                print(f"{args.workload} {k} = {v} {unit_of(k)}")
        for k, v in res["per_layer"].items():
            print(f"layer {k} = {v} {unit_of(k)}")
        for p in problems:
            log(f"CHECK FAILED: {p}")

        if args.trace:
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["per_layer"].items()}
        else:
            metrics = {k: {"value": res["e2e"][k], "unit": unit} for k, unit in E2E.items()}
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        # a traced run leaves its spans and stream progress behind
        for name in ("spans.json", "progress.json"):
            if os.path.exists(os.path.join(work, name)):
                keep = os.path.join(os.path.dirname(work), f"trace-{args.workload}")
                os.makedirs(keep, exist_ok=True)
                shutil.move(os.path.join(work, name), os.path.join(keep, name))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
