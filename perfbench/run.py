#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload encrypted --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under .bench_build/;
later runs start the harness JVM directly. Each run prints one JSON object
as the last line of standard output and writes a fuller artifact under
.bench_build/perfbench/runs/. A traced run (--trace 1) states its tracing
overhead against the latest untraced run of the same workload at the same
build, when there is one. See perfbench/README.md.
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
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

# Spark on JDK 17 outside spark-submit needs these (the root build passes
# the same list to its forked JVMs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, as paths relative to the root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "resources")]
    files = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    return sorted(f for f in files if os.path.isfile(os.path.join(ROOT, f)))


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(current):
    """Compiles engine and harness; returns the runtime classpath."""
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp_file = os.path.join(STATE, "stamp")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == current:
                with open(cp_file) as cf:
                    return cf.read().strip()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData")
    log = os.path.join(STATE, "build.log")
    print("perfbench: building engine and harness (log: .bench_build/perfbench/build.log)",
          file=sys.stderr)
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HERE, env, out, BUILD_LIMIT_S)
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if ln.endswith(".jar") and os.pathsep in ln and not ln.startswith("[")), None)
    if rc != 0 or cp is None:
        die(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(current)
    return cp


def run_child(cmd, cwd, env, log, limit):
    """Runs a child in its own process group, output to `log`; kills the
    group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} exceeded {limit} s")


def java(cp, main, args, work, limit):
    """Runs a harness main; returns (exit code, stdout text)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, main] + args)
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"run exceeded {limit:.0f} s")
    return p.returncode, out.decode("utf-8", "replace")


def one_run(cp, build_id, a, trace, deadline):
    """One harness JVM run; returns (result line, artifact path, artifact)."""
    name = f"{a.workload}-s{a.seed}-t{int(trace)}"
    work = os.path.join(STATE, "work", f"{name}-{os.getpid()}")
    artifact = os.path.join(STATE, "runs", f"{name}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc, out = java(cp, "perfbench.Main",
                       ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(int(trace)),
                        "--work", work, "--artifact", artifact],
                       work, deadline - time.time())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        die(f"harness exited {rc} without a result")
    with open(artifact) as fh:
        doc = json.load(fh)
    doc["build"] = build_id
    return lines[-1], artifact, doc


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the engine's sources (build.sbt, src/main/scala/graft) are not beside perfbench/")
    if not a.selftest and not a.workload:
        die("--workload is required")
    build_id = stamp()
    cp = build(build_id)
    start = time.time()
    if a.selftest:
        work = os.path.join(STATE, "work", f"selftest-{os.getpid()}")
        try:
            rc, out = java(cp, "perfbench.SelfTest", [], work, RUN_LIMIT_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(out, end="")
        sys.exit(rc)

    deadline = start + RUN_LIMIT_S
    line, artifact, doc = one_run(cp, build_id, a, bool(a.trace), deadline)
    if a.trace:
        # tracing overhead: this run's phase walls against the latest
        # untraced run of the same workload at the same build
        untraced = latest_untraced(a.workload, build_id)
        if untraced is not None:
            walls, base = doc["phase_wall_s"], untraced["phase_wall_s"]
            over = {k: walls[k] - base[k] for k in walls}
            over["total"] = sum(walls.values()) - sum(base.values())
            doc["trace_overhead_s"] = over
            doc["trace_overhead_base_seed"] = untraced["seed"]
    save(artifact, doc)
    print(f"perfbench: artifact {os.path.relpath(artifact, ROOT)}", file=sys.stderr)
    print(line)


def latest_untraced(workload, build_id):
    runs = os.path.join(STATE, "runs")
    best = None
    for f in os.listdir(runs):
        if f.startswith(f"{workload}-s") and f.endswith("-t0.json"):
            p = os.path.join(runs, f)
            with open(p) as fh:
                doc = json.load(fh)
            if doc.get("build") == build_id and (best is None or os.path.getmtime(p) > best[0]):
                best = (os.path.getmtime(p), doc)
    return best and best[1]


def save(path, doc):
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
