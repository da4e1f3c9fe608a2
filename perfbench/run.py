#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_backup --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the Scala harness in
perfbench/ with sbt and caches the classpath under .bench_build/; later
runs start the JVM directly. The harness prints a report and, as the
last line of standard output, one JSON object with the run's verdict and
metrics: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. Traced runs also write their spans to
.bench_build/traces/ and print the tracing overhead against the median
of this checkout's untraced runs of the same workload.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of the build inputs' names, sizes and mtimes."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, files in sorted(os.walk(os.path.join(root, top))):
            inputs += [os.path.relpath(os.path.join(d, f), root)
                       for f in sorted(files)]
    for rel in inputs:
        st = os.stat(os.path.join(root, rel))
        h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return p.returncode, out


def classpath(root, build_dir):
    """Builds once per source state and returns the harness classpath."""
    stamp_file = os.path.join(build_dir, "classpath.json")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"), env=env,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"build failed (exit {code})")
    cp = lines[-1].strip()
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        fail("build did not produce a usable classpath")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    os.makedirs(build_dir, exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {w["name"] for w in spec["workloads"]}
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {sorted(names)}")
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a repository checkout")

    build_dir = os.path.join(root, ".bench_build")
    cp = classpath(root, build_dir)
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # no hsperfdata file outside the checkout; scratch files under `work`
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work,
            "--fixture", os.path.join(root, "perfbench", "fixture"),
            "--traces", os.path.join(build_dir, "traces")]
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                              text=True)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        sys.stdout.write(out)
        fail(f"harness exited {code} without a result line")
    if code != 0:
        sys.stdout.write(out)
        fail(f"harness exited {code}")
    key = "per_layer" if a.trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        sys.stdout.write(out)
        fail(f"metrics differ from BENCHMARK.json {key}: "
             f"{sorted(set(got.items()) ^ set(want.items()))}")

    report = lines[:-1]
    history = os.path.join(build_dir, "history.jsonl")
    if a.trace:
        report.append(overhead(history, a.workload, result))
    else:
        with open(history, "a") as f:
            f.write(json.dumps({"workload": a.workload,
                                "op_p50_s": result["metrics"]["op_p50_s"]["value"]})
                    + "\n")
    print("\n".join(report))
    print(json.dumps(result))


def overhead(history, workload, result):
    """Traced op median against the median of untraced runs so far."""
    base = []
    if os.path.exists(history):
        with open(history) as f:
            base = [r["op_p50_s"] for r in map(json.loads, f)
                    if r["workload"] == workload]
    traced = result["metrics"]["trace.op_p50_s"]["value"]
    if not base:
        return "  tracing overhead     unknown (no untraced run of this workload yet)"
    med = statistics.median(base)
    return (f"  tracing overhead     op_p50 traced {traced:.4f} s vs untraced "
            f"median {med:.4f} s over {len(base)} runs: "
            f"{100 * (traced / med - 1):+.1f}%")


if __name__ == "__main__":
    main()
