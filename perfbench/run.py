#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a graft checkout. The first run builds the
program and the harness (perfbench/harness, an sbt build that depends on
the root build) and caches the classpath in .bench_build/; later runs
rebuild only when a source file changed. Each run starts one JVM
(graft.perfbench.Main) that sets up and times the workload in a closed
loop with one client thread at local[<cpus>]; then `setups` - 1 more
fresh JVMs (workloads.json) only set up, so that the set-up time is a
median over fresh JVMs. This script checks the
outputs (batch queries against their DuckDB oracles, streams against
their batch truth), prints every metric as
`name value unit`, and prints one JSON object as its last line. With
--trace 0 that object holds the end-to-end metrics, with --trace 1 the
per-layer ones. Workloads, their queries and the recorded fingerprints
are in perfbench/workloads.json; the tables are in perfbench/data.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import report

BENCH = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(BENCH, "harness")
RUN_LIMIT_S = 165    # a run must end within 180 s of its start
FIRST_LIMIT_S = 890  # the first run in a checkout, which builds, within 900 s
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
    "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
    "sun.nio.cs sun.security.action sun.util.calendar").split()]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Digest of every file the build reads, so a changed source rebuilds."""
    files = []
    for pattern in ("build.sbt", "project/*.properties", "project/*.sbt",
                    "src/main/**/*", "perfbench/harness/build.sbt",
                    "perfbench/harness/project/*.properties",
                    "perfbench/harness/src/**/*"):
        files += [f for f in glob.glob(os.path.join(root, pattern), recursive=True)
                  if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, out_dir):
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp_file = os.path.join(out_dir, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    print("perfbench: building with sbt", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=FIRST_LIMIT_S - RUN_LIMIT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"sbt build failed (exit {p.returncode})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, spec, args, run_dir, deadline, setup_only):
    """Run one harness JVM in `run_dir`, with its own temporary directory
    (and so its own Spark warehouse); return its record and output
    directory. A JVM past the deadline is killed."""
    tmp = os.path.join(run_dir, "tmp")
    out = os.path.join(run_dir, "out")
    os.makedirs(tmp)
    os.makedirs(out)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout;
    # -XX:-UseDynamicNumberOfCompilerThreads: the JIT compiler threads
    # live as long as the JVM, so the harness can leave out their CPU
    # A fixed heap: with -Xmx alone G1 sizes the heap by how long its
    # pauses take, and some runs ended up with the concurrent marker busy
    # through every pass.
    cmd = ["java", f"-Xms{spec['heap']}", f"-Xmx{spec['heap']}", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--kind", spec["kind"],
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", spec["data"], "--out", out,
           "--queries", ",".join(spec["queries"]), "--setup-only", str(int(setup_only)),
           "--warm-passes", str(spec["warm_passes"]), "--cpus", str(spec["cpus"])]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded its time limit; log in {log_path}")
    rec_path = os.path.join(out, "record.json")
    if not os.path.exists(rec_path):
        fail(f"JVM exited {proc.returncode} without a record; log in {log_path}")
    with open(rec_path) as fh:
        rec = json.load(fh)
    if rec.get("fatal"):
        fail(f"run failed: {rec['fatal']}; log in {log_path}")
    return rec, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    with open(os.path.join(BENCH, "workloads.json")) as fh:
        conf = json.load(fh)
    if args.workload not in conf["workloads"]:
        fail(f"unknown workload {args.workload}; known: {', '.join(conf['workloads'])}")
    wl = conf["workloads"][args.workload]
    spec = {"kind": wl["kind"], "queries": wl["queries"],
            "data": os.path.join(BENCH, wl.get("data", "data")), "heap": conf["jvm_heap"],
            "setups": conf["setups"], "warm_passes": wl.get("warm_passes", 0),
            "cpus": os.cpu_count() or 1}

    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    cp = build(root, out_dir)
    built = time.time()

    run_dir = os.path.join(out_dir, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    host0 = report.host_sample()
    deadline = min(built + RUN_LIMIT_S, start + FIRST_LIMIT_S)
    rec, out = run_jvm(cp, spec, args, run_dir, deadline, setup_only=False)
    # further set-ups, each in a fresh JVM of its own, one after another:
    # set-up is JVM start, class loading and one-time initialisation as
    # much as building the session
    for k in ("setup_s", "setup_cpu_s", "setup_jit_s"):
        rec[k] = [rec[k]]
    for i in range(1, spec["setups"]):
        d = os.path.join(run_dir, f"setup{i}")
        more, _ = run_jvm(cp, spec, args, d, deadline, setup_only=True)
        for k in ("setup_s", "setup_cpu_s", "setup_jit_s"):
            rec[k].append(more[k])
        shutil.rmtree(os.path.join(d, "tmp"), ignore_errors=True)
    host1 = report.host_sample()
    rec["host"] = report.host_delta(host0, host1)
    verdicts = report.check(rec, out, spec["data"], wl, os.path.join(out_dir, "oracle"))
    result = report.reduce(rec, verdicts, args.trace == 1)
    if args.trace:
        report.write_spans(rec, os.path.join(out_dir, "traces",
                                             f"{args.workload}-s{args.seed}.json"))
    # keep the run's record and log; drop its temporary files and outputs
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(out, "check"), ignore_errors=True)
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump({"result": result, "verdicts": verdicts, "host": rec["host"],
                   "elapsed_s": time.time() - start}, fh, indent=1)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    report.emit(result, args.trace == 1,
                [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]])


if __name__ == "__main__":
    main()
