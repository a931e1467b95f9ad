#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt (once per source
state; later runs reuse the build), launches the harness JVM with the
program's own forked-JVM options, and prints, as the last line of standard
output, one JSON object with the keys correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. The line before it
holds the whole harness result, with run provenance and sample counts; the
same object is kept under perfbench/.work/results/.

Everything the benchmark writes stays under perfbench/.work and the build's
target directories. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(WORK, "launch")
SCRATCH = os.path.join(WORK, "scratch")
# The harness JVM's heap. Fixed, so a result does not depend on the host's
# memory size; passed to the program's build file through its own knob.
HEAP = "4g"
# a run must end within 180 s, or 900 s when it builds
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's sources and build
    definition, and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"), HARNESS]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target" and not x.startswith(".")]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, deadline, **kw):
    """Run `cmd` in its own process group; kill the whole group if it is
    still running at `deadline`. Returns (exit code, captured stdout or
    None)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    timer = threading.Timer(max(deadline - time.time(), 1.0),
                            lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    try:
        out = proc.communicate()[0]
    finally:
        timer.cancel()
        try:
            os.killpg(proc.pid, signal.SIGKILL)  # stray children, if any
        except ProcessLookupError:
            pass
    if time.time() >= deadline:
        raise SystemExit(f"{cmd[0]} did not finish in time")
    return proc.returncode, out


def build(deadline):
    """Build unless the launch files match the current sources. Returns
    whether it built."""
    stamp = os.path.join(LAUNCH, "fingerprint")
    fp = fingerprint()
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return False
    log("building program and harness with sbt")
    os.makedirs(LAUNCH, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # the program's build file reads these when it is loaded
    env["SPARK_GRAFT_SCRATCH"] = SCRATCH
    env["SPARK_DRIVER_MEM"] = HEAP
    env["PERFBENCH_LAUNCH_DIR"] = LAUNCH
    os.makedirs(SCRATCH, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "exportLaunch"]
    rc, _ = run_bounded(cmd, deadline, cwd=HARNESS, env=env, stdout=sys.stderr,
                        stderr=sys.stderr)
    if rc != 0:
        raise SystemExit(f"build failed with exit code {rc}")
    with open(stamp, "w") as f:
        f.write(fp)
    return True


def jvm_command(args, run_dir):
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(LAUNCH, "jvm_options.txt")) as f:
        opts = [line.strip() for line in f if line.strip()]
    # the build file's catalog locations point outside the checkout (later
    # -D flags win), and the JVM's perf-data file would go to /tmp
    opts += [f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
             f"-Dderby.system.home={os.path.join(run_dir, 'derby')}",
             "-XX:-UsePerfData"]
    return (["java"] + opts + ["-cp", cp, "perfbench.Main",
                               "--workload", args.workload, "--seed", str(args.seed),
                               "--seconds", str(args.seconds), "--trace", str(args.trace),
                               "--work", run_dir, "--oracle", os.path.join(HERE, "oracle.py")])


def run_harness(args, deadline):
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    try:
        rc, out = run_bounded(jvm_command(args, run_dir), deadline, cwd=ROOT, env=env,
                              stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        # JVM-lifetime scratch the program leaves behind if killed
        shutil.rmtree(os.path.join(SCRATCH, "graft-tmp"), ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            result = json.loads(line[len("PERFBENCH "):])
        else:
            print(line, file=sys.stderr)
    if rc != 0 or result is None:
        raise SystemExit(f"harness exited with code {rc}")
    return result


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    needed = [spec_path, os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")]
    missing = [os.path.relpath(x, ROOT) for x in needed if not os.path.exists(x)]
    if missing:
        log(f"not a checkout of the program: missing {', '.join(missing)}")
        sys.exit(2)
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {args.workload}")
        sys.exit(2)

    start = time.time()
    built = build(start + BUILD_RUN_LIMIT_S)
    res = run_harness(args, start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, correct = {}, True
    for m in wanted:
        got = res["metrics"].get(m["name"])
        value = got["value"] if got else None
        if value is None or not math.isfinite(value):
            if not args.trace:
                # an end-to-end metric the run could not measure
                log(f"metric {m['name']} missing")
                correct = False
            value = 0.0
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    attempted, failed = int(res["attempted"]), int(res["failed"])
    for f in res.get("failures", []):
        log(f"check failed: {f}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    detail = os.path.join(WORK, "results",
                          f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail, "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps(res))
    print(json.dumps({"correct": bool(correct and failed == 0 and attempted >= 1),
                      "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
