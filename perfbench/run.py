#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload sparql-read --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest     # the harness's own tests

Run from the repository root. The first run in a checkout builds the
program and the harness from source with sbt (offline) into .bench_build/;
later runs reuse the build while the sources are unchanged. The workload
itself runs in one JVM (perfbench.Main), whose last stdout line is the
JSON result relayed here.
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

WORKLOADS = ("sparql-read", "sparql-rw", "pipeline-batch")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# the JVM flags the root build passes to forked runs (Spark on JDK 17)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"),
            os.path.join(root, "perfbench", "src", "main"),
            os.path.join(root, "perfbench", "build.sbt"),
            os.path.join(root, "perfbench", "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out, err


def sbt(root, tasks, **kw):
    """Run sbt tasks in the benchmark's own build, offline."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return run_group(["sbt", "--batch", "-Dsbt.log.noformat=true"] + tasks,
                     BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
                     env=env, text=True, **kw)


def selftest(root):
    """Run the harness's own tests (perfbench/src/test)."""
    code, _, _ = sbt(root, ["test"])
    sys.exit(0 if code == 0 else 1)


def build(root, out_dir):
    """Compile with sbt unless the sources match the last build."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(out_dir, "stamp")
    cp_file = os.path.join(out_dir, "classpath")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    code, out, _ = sbt(root, ["compile", "export Runtime/fullClasspath"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write((out or "")[-4000:])
        fail("build failed" if code is not None else "build timed out")
    lines = [l for l in out.splitlines() if "sbt-target" in l and ":" in l
             and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    os.makedirs(out_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def main():
    if sys.argv[1:] == ["--selftest"]:
        return selftest(os.getcwd())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    cp = build(root, out_dir)

    work = os.path.join(out_dir, f"work-{os.getpid()}")
    heap = "4g" if args.workload == "pipeline-batch" else "3g"
    cmd = (["java", f"-Xmx{heap}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", args.trace, "--work", work])
    log_path = os.path.join(out_dir, f"{args.workload}.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        code, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=root,
                                 stdout=subprocess.PIPE, stderr=log, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.stderr.write(out or "")
        fail(f"workload exited with {code}" if code is not None
             else f"workload timed out after {RUN_TIMEOUT_S} s")
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(out)
        fail("workload printed no result line")
    for l in lines[:-1]:
        print(l)
    print(f"# wall {time.time() - t0:.1f} s (JVM), log {log_path}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
