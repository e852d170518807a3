#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark from
source (first run only), generates the workload's inputs from the seed,
runs the engine for S seconds in one JVM, checks every output (untimed),
and prints one JSON line last: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 the per-layer ones, and the full span
record is written under .bench_build/traces/. Exits nonzero when a call or
a check fails. See perfbench/NOTES.md.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

TOTAL_BUDGET_S = 170          # the whole command, build excluded
HEAP = "4g"
BUILD_BUDGET_S = 840
CALL_TIMEOUT_S = 60
CHECK_RESERVE_S = 25          # kept back from the JVM for the output checks
WORKLOADS = ("tensor_events", "corpus_clean", "olap_mix")


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def source_digest(root):
    """Digest of the engine's and the benchmark's sources and build files:
    the build cache key, and the code identity a result is stamped with
    when no git metadata is present."""
    h = hashlib.sha256()
    paths = [os.path.join(HERE, f) for f in os.listdir(HERE) if f.endswith(".py")]
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            paths += [os.path.join(d, f) for f in files]
    paths += [os.path.join(root, "build.sbt"), os.path.join(root, "perfbench/build.sbt")]
    for p in sorted(paths):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run a child in its own process group and wait for it; kill the group
    on timeout or when this command is interrupted, so nothing outlives
    it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(root, bdir, digest):
    stamp = os.path.join(bdir, "build.stamp")
    cp = os.path.join(bdir, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp) and open(stamp).read() == digest:
        return
    log("perfbench: building engine and benchmark (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    with open(os.path.join(bdir, "build.log"), "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "-Dsbt.server.forcestart=false", "compile", "writeClasspath"],
                         BUILD_BUDGET_S, cwd=os.path.join(root, "perfbench"),
                         stdout=out, stderr=subprocess.STDOUT, env=env)
    if rc != 0 or not os.path.exists(cp):
        log(open(os.path.join(bdir, "build.log")).read()[-4000:])
        fail(f"build failed (rc={rc})")
    with open(stamp, "w") as f:
        f.write(digest)


def git_sha(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unavailable"
    except (OSError, subprocess.SubprocessError):
        return "unavailable"


def engine_run(root, bdir, args, trace, inputs, work, budget):
    """Run the engine JVM once; return its result record."""
    cores = len(os.sched_getaffinity(0))
    heap = HEAP
    result_file = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.base/" + p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", open(os.path.join(bdir, "classpath.txt")).read().strip(),
              "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(trace),
              "--cores", str(cores), "--inputs", inputs, "--work", work,
              "--result", result_file, "--call-timeout-s", str(CALL_TIMEOUT_S),
              "--budget-s", f"{budget - 10:.0f}"])
    jlog_path = os.path.join(work, f"jvm-{trace}.log")
    with open(jlog_path, "w") as jlog:
        rc = run_bounded(cmd, budget, cwd=work, stdout=jlog, stderr=subprocess.STDOUT)
    jvm_log = open(jlog_path).read()
    for line in jvm_log.splitlines():
        if line.startswith("FAILED "):
            log(line)
    if rc is None:
        fail(f"engine run exceeded its {budget:.0f} s budget", 3)
    if not os.path.exists(result_file):
        log(jvm_log[-4000:])
        fail(f"engine run ended without a result (rc={rc})", 3)
    rec = json.load(open(result_file))
    os.remove(result_file)
    if rec["aborted"]:
        fail(f"run aborted: {rec['aborted']}", 3)
    rec["stamp"].update(nproc=cores, heap=heap)
    return rec


def main():
    # a terminated run still stops its children (run_bounded's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))
            and os.path.isfile(os.path.join(root, "BENCHMARK.json"))):
        fail("run from the root of an engine checkout (build.sbt, src/main/scala, BENCHMARK.json)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    bdir = os.path.join(root, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    digest = source_digest(root)
    build(root, bdir, digest)
    deadline = time.monotonic() + TOTAL_BUDGET_S

    import checks
    import gen

    t_gen = time.monotonic()
    work = os.path.join(bdir, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "in")
    if args.workload == "tensor_events":
        truth = gen.tensor_events(args.seed, inputs)
    elif args.workload == "corpus_clean":
        truth = gen.corpus(args.seed, inputs)
    else:
        truth = gen.tpch(inputs)
    gen_s = time.monotonic() - t_gen

    def remaining():
        return deadline - time.monotonic() - CHECK_RESERVE_S

    if args.trace:
        # the tracing overhead's reference: an untraced run of the same
        # inputs, just before the traced one
        ref = engine_run(root, bdir, args, 0, inputs, work, remaining() / 2)
        reference = ref["end_to_end"]["pass_s"]
        shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    rec = engine_run(root, bdir, args, args.trace, inputs, work, remaining())

    # ---- output checks (untimed)
    t_check = time.monotonic()
    results = checks.run(args.workload, os.path.join(work, "out"), inputs, truth)
    log(f"perfbench: checks took {time.monotonic() - t_check:.1f} s")
    failed_checks = [r for r in results if not r[1]]
    for name, ok, detail in results:
        log(f"check {'PASS' if ok else 'FAIL'} {name}{': ' + detail if detail else ''}")
    attempted = rec["attempted"] + len(results)
    failed = rec["failed"] + len(failed_checks)

    stamp = dict(rec["stamp"], git_sha=git_sha(root), source_sha256=digest, seed=args.seed,
                 workload=args.workload, trace=args.trace, seconds=args.seconds,
                 passes=rec["passes"])
    if args.trace:
        traced = rec["end_to_end"]["pass_s"]
        rec["per_layer"].update({"trace.pass_s": traced, "trace.untraced_pass_s": reference,
                                 "trace.overhead_s": traced - reference})
    section = "per_layer" if args.trace else "end_to_end"
    values = rec[section]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[section]}
    if args.trace:
        tdir = os.path.join(bdir, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"stamp": stamp, "spans": rec["spans"], "per_layer": rec["per_layer"],
                       "end_to_end": rec["end_to_end"]}, f, indent=1)
    rdir = os.path.join(bdir, "results")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump({"stamp": stamp, "gen_s": gen_s, "pass_walls_s": rec["pass_walls_s"],
                   "setup_walls_s": rec["setup_walls_s"], "checks": results,
                   "errors": rec["errors"], "metrics": metrics, "spans": rec["spans"]}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print("# stamp " + json.dumps(stamp, sort_keys=True))
    print(json.dumps({"correct": not failed_checks and rec["failed"] == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
